"""Structured Streaming: windowed aggregation + foreachBatch upsert."""

from __future__ import annotations

import datetime
import json
import time

from etl_oms_spark.streaming.events import (
    foreach_batch_upsert,
    run_stream_to_memory,
    stream_events,
    windowed_event_counts,
)


def _write_events_json(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


EVENTS = [
    {"event_id": 1, "ts": "2024-01-01T00:10:00Z", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},
    {"event_id": 2, "ts": "2024-01-01T00:20:00Z", "user_id": 1, "event_type": "click", "value": 2.0, "props": "{}"},
    {"event_id": 3, "ts": "2024-01-01T01:05:00Z", "user_id": 2, "event_type": "view", "value": 3.0, "props": "{}"},
]


def test_windowed_counts_batch(spark):
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 0, 10), 1, "click", 1.0, "{}"),
         (2, datetime.datetime(2024, 1, 1, 0, 20), 1, "click", 2.0, "{}"),
         (3, datetime.datetime(2024, 1, 1, 1, 5), 2, "view", 3.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {(r["window_start"].hour, r["event_type"]): (r["n_events"], r["total_value"])
           for r in windowed_event_counts(df).collect()}
    assert out[(0, "click")] == (2, 3.0)
    assert out[(1, "view")] == (1, 3.0)


def test_streaming_windowed_counts(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    _write_events_json(src / "batch1.json", EVENTS)
    stream = stream_events(spark, str(src), fmt="json")
    assert stream.isStreaming
    agg = windowed_event_counts(stream, watermark="2 hours")
    q = run_stream_to_memory(agg, "ev_counts", output_mode="update")
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ev_counts").collect()
        got = {(r["window_start"].hour, r["event_type"]): r["n_events"] for r in rows}
        assert got[(0, "click")] == 2
        assert got[(1, "view")] == 1
        # late-ish second file still lands (within watermark)
        _write_events_json(src / "batch2.json", [
            {"event_id": 4, "ts": "2024-01-01T00:40:00Z", "user_id": 3,
             "event_type": "click", "value": 5.0, "props": "{}"}])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ev_counts").collect()
        got = {(r["window_start"].hour, r["event_type"]): r["n_events"] for r in rows}
        assert got[(0, "click")] == 3
    finally:
        q.stop()


def test_foreach_batch_upsert(spark, tmp_path):
    src = tmp_path / "upsert_src"
    src.mkdir()
    target = str(tmp_path / "warehouse")
    _write_events_json(src / "b1.json", EVENTS)
    stream = stream_events(spark, str(src), fmt="json")
    dedup = stream.select("event_id", "user_id", "event_type", "value")
    q = (
        dedup.writeStream.outputMode("append")
        .foreachBatch(foreach_batch_upsert(target, keys=["event_id"], spark=spark))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.read.parquet(target).count() == 3
        # replay same event_id with new value → update, not append
        _write_events_json(src / "b2.json", [
            {"event_id": 1, "ts": "2024-01-01T00:10:00Z", "user_id": 1,
             "event_type": "click", "value": 99.0, "props": "{}"}])
        q.processAllAvailable()
        time.sleep(0.5)
        out = spark.read.parquet(target)
        assert out.count() == 3  # idempotent on key
        assert out.filter("event_id = 1").first()["value"] == 99.0
    finally:
        q.stop()


def test_dedup_stream_drops_replays(spark, tmp_path):
    from etl_oms_spark.streaming.events import dedup_stream

    src = tmp_path / "dedup_src"
    src.mkdir()
    _write_events_json(src / "b1.json", EVENTS)
    # replay event_id 1 and 2 plus one new event in a second file
    _write_events_json(src / "b2.json", EVENTS[:2] + [
        {"event_id": 9, "ts": "2024-01-01T01:30:00Z", "user_id": 9,
         "event_type": "click", "value": 1.0, "props": "{}"}])
    stream = stream_events(spark, str(src), max_files_per_trigger=1)
    q = (
        dedup_stream(stream, keys=["event_id"], watermark="6 hours")
        .writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT event_id FROM dedup_out").collect()
        ids = sorted(r["event_id"] for r in rows)
        assert ids == [1, 2, 3, 9]  # replays dropped exactly once
    finally:
        q.stop()


def test_join_streams_interval_attribution(spark, tmp_path):
    from etl_oms_spark.streaming.events import join_streams

    views_src = tmp_path / "views_src"
    clicks_src = tmp_path / "clicks_src"
    views_src.mkdir()
    clicks_src.mkdir()
    _write_events_json(views_src / "b1.json", [
        {"event_id": 10, "ts": "2024-01-01T00:00:00Z", "user_id": 1,
         "event_type": "view", "value": 0.0, "props": "{}"},
        {"event_id": 11, "ts": "2024-01-01T01:00:00Z", "user_id": 2,
         "event_type": "view", "value": 0.0, "props": "{}"}])
    _write_events_json(clicks_src / "b1.json", [
        # within 15 min of view 10 → attributed
        {"event_id": 20, "ts": "2024-01-01T00:10:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        # same user, 50 min after view 10 → outside the window
        {"event_id": 21, "ts": "2024-01-01T00:50:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        # other user, within window of view 11
        {"event_id": 22, "ts": "2024-01-01T01:05:00Z", "user_id": 2,
         "event_type": "click", "value": 1.0, "props": "{}"}])
    joined = join_streams(
        stream_events(spark, str(views_src)),
        stream_events(spark, str(clicks_src)),
        watermark="2 hours",
        within="15 minutes",
    )
    q = (
        joined.writeStream.format("memory").queryName("attributed")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        pairs = sorted(
            (r["left_event_id"], r["right_event_id"])
            for r in spark.sql("SELECT * FROM attributed").collect()
        )
        assert pairs == [(10, 20), (11, 22)]
    finally:
        q.stop()


def test_join_streams_left_outer_emits_after_watermark(spark, tmp_path):
    from etl_oms_spark.streaming.events import join_streams

    views_src = tmp_path / "ov_src"
    clicks_src = tmp_path / "oc_src"
    views_src.mkdir()
    clicks_src.mkdir()
    _write_events_json(views_src / "b1.json", [
        {"event_id": 10, "ts": "2024-01-01T00:00:00Z", "user_id": 1,
         "event_type": "view", "value": 0.0, "props": "{}"},   # will match
        {"event_id": 11, "ts": "2024-01-01T00:01:00Z", "user_id": 2,
         "event_type": "view", "value": 0.0, "props": "{}"}])  # never matches
    _write_events_json(clicks_src / "b1.json", [
        {"event_id": 20, "ts": "2024-01-01T00:05:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"}])
    joined = join_streams(
        stream_events(spark, str(views_src)),
        stream_events(spark, str(clicks_src)),
        watermark="10 minutes",
        within="15 minutes",
        how="leftOuter",
    )
    q = (
        joined.writeStream.format("memory").queryName("outer_attr")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "outer_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r["left_event_id"]: r["right_event_id"]
               for r in spark.sql("SELECT * FROM outer_attr").collect()}
        assert got.get(10) == 20          # match emits immediately
        assert 11 not in got              # unmatched: window still open
        # advance event time far past view 11's window + watermark on BOTH
        # streams (the watermark is the min across inputs)
        for src in (views_src, clicks_src):
            _write_events_json(src / "b2.json", [
                {"event_id": 99, "ts": "2024-01-01T02:00:00Z", "user_id": 9,
                 "event_type": "tick", "value": 0.0, "props": "{}"}])
        q.processAllAvailable()
        q.processAllAvailable()  # second cycle lets the state-eviction batch run
        got = {r["left_event_id"]: r["right_event_id"]
               for r in spark.sql("SELECT * FROM outer_attr").collect()}
        assert got.get(11, "missing") is None  # emitted with null right side
    finally:
        q.stop()


def test_streaming_hopping_windows(spark, tmp_path):
    """hopping_window_counts is streaming-ready as-is: the same F.window
    (width, slide) aggregation runs under readStream with a watermark,
    and every event lands in width/slide overlapping windows."""
    from pyspark.sql import functions as F

    from etl_oms_spark.operators.rollup import hopping_window_counts

    src = tmp_path / "hop_src"
    src.mkdir()
    _write_events_json(src / "batch1.json", EVENTS)
    stream = stream_events(spark, str(src), fmt="json").withWatermark("ts", "2 hours")
    agg = hopping_window_counts(stream, width="2 hours", slide="1 hour")
    q = run_stream_to_memory(agg, "hop_counts", output_mode="update")
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM hop_counts").collect()
        got = {r["window_start"].hour: (r["n_events"], r["sum_value"]) for r in rows}
        # events at 00:10/00:20 land in windows starting 23:00 and 00:00;
        # the 01:05 view joins the 00:00 window and opens 01:00
        assert got[0] == (3, 6.0)
        assert got[1] == (1, 3.0)
        assert got[23] == (2, 3.0)
    finally:
        q.stop()


def test_streaming_sessionize(spark, tmp_path):
    """The same sessionize plan (native session_window) runs under
    readStream with a watermark: gap-separated bursts yield separate
    sessions with bounded state."""
    from etl_oms_spark.operators.stateful import sessionize

    src = tmp_path / "sess_src"
    src.mkdir()
    _write_events_json(src / "b1.json", [
        {"event_id": 1, "ts": "2024-01-01T00:00:00Z", "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:05:00Z", "user_id": 1,
         "event_type": "click", "value": 2.0, "props": "{}"},
        # >10 min gap -> new session
        {"event_id": 3, "ts": "2024-01-01T01:00:00Z", "user_id": 1,
         "event_type": "view", "value": 4.0, "props": "{}"},
    ])
    stream = stream_events(spark, str(src), fmt="json")
    sessions = sessionize(stream, gap="10 minutes", watermark="2 hours")
    # session_window streaming aggregations support append (emit on
    # watermark close) or complete — use complete so the assertion sees
    # sessions the watermark has not finalized yet
    q = run_stream_to_memory(sessions, "sess_out", output_mode="complete")
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sess_out ORDER BY session_start").collect()
        assert [r["n_events"] for r in rows] == [2, 1]
        assert rows[0]["session_value"] == 3.0
        # session_window extends `gap` past the last event
        assert (rows[0]["session_end"] - rows[0]["session_start"]).seconds == 15 * 60
    finally:
        q.stop()


def test_foreach_batch_incremental_dedup_stream(spark, tmp_path):
    """Streaming corpus ingest: content dedup against the persistent
    fingerprint ledger across micro-batches — within-batch dups collapse,
    cross-batch dups drop, and the ledger accumulates."""
    import json

    from etl_oms_spark.streaming.events import foreach_batch_incremental_dedup

    src = tmp_path / "docs_src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    ledger = str(tmp_path / "ledger")

    def write_batch(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    write_batch("b1.json", [
        {"doc_id": 1, "text": "alpha beta"},
        {"doc_id": 2, "text": "ALPHA   beta"},   # dup of 1 within batch
        {"doc_id": 3, "text": "gamma delta"},
    ])
    stream = spark.readStream.schema("doc_id LONG, text STRING").json(str(src))

    def run():
        q = (
            stream.writeStream.foreachBatch(
                foreach_batch_incremental_dedup(corpus, ledger, spark)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    ids = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert ids == [1, 3]
    assert spark.read.parquet(ledger).count() == 2

    write_batch("b2.json", [
        {"doc_id": 10, "text": "alpha  BETA"},   # dup of ledgered doc 1
        {"doc_id": 11, "text": "epsilon zeta"},  # fresh
    ])
    run()
    ids = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert ids == [1, 3, 11]
    assert spark.read.parquet(ledger).count() == 3


def test_incremental_dedup_replay_idempotent(spark, tmp_path):
    """foreachBatch replay (at-least-once): re-running a batch with the
    same batch_id — the crash-between-the-two-writes window — must leave
    corpus and ledger byte-identical, because each batch overwrites only
    its own ingest_batch_id partition and the ledger commits last."""
    from etl_oms_spark.streaming.events import foreach_batch_incremental_dedup

    corpus = str(tmp_path / "corpus")
    ledger = str(tmp_path / "ledger")
    fn = foreach_batch_incremental_dedup(corpus, ledger, spark)
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "ALPHA   beta"), (3, "gamma delta")],
        "doc_id LONG, text STRING",
    )
    fn(b1, 0)
    fn(b1, 0)  # replay of batch 0 after both writes committed
    assert sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect()) == [1, 3]
    assert spark.read.parquet(ledger).count() == 2

    b2 = spark.createDataFrame(
        [(10, "alpha  BETA"), (11, "epsilon zeta")], "doc_id LONG, text STRING"
    )
    fn(b2, 1)
    fn(b2, 1)  # replay of batch 1: cross-batch dup 10 stays dropped
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 3, 11]
    assert spark.read.parquet(ledger).count() == 3


def test_incremental_dedup_ledger_read_error_aborts(spark, tmp_path):
    """A ledger path that exists but cannot be read as parquet (corruption,
    partial state) must ABORT the batch — not be treated as 'first batch',
    which would silently skip dedup against all history."""
    import pytest

    from etl_oms_spark.streaming.events import foreach_batch_incremental_dedup

    corpus = str(tmp_path / "corpus")
    ledger = tmp_path / "ledger"
    ledger.mkdir()
    (ledger / "part-0.parquet").write_bytes(b"this is not parquet")
    fn = foreach_batch_incremental_dedup(corpus, str(ledger), spark)
    b = spark.createDataFrame([(1, "alpha")], "doc_id LONG, text STRING")
    with pytest.raises(Exception):
        fn(b, 0)
    import os

    assert not os.path.exists(corpus)  # nothing was appended past the error


def test_stp1_streaming_ingest_deterministic(spark):
    """The streaming capstone is replay-deterministic end to end: two
    full pipeline executions (fresh temp corpus/ledger/checkpoint each)
    produce identical per-source rollups."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, m.queries()["stp1_streaming_ingest"](spark, sf).collect()))
    b = sorted(map(tuple, m.queries()["stp1_streaming_ingest"](spark, sf).collect()))
    assert a == b and len(a) > 0


def test_click_purchase_pairs_stream_equals_batch(spark, tmp_path):
    """The sj1 capstone's core invariant: the watermarked stream-stream
    backward interval join emits EXACTLY the batch interval join's pairs
    (second-floor window, sub-second timestamps included)."""
    from etl_oms_spark.streaming.joins import click_purchase_pairs

    rows = [
        # purchase at 00:30:00; clicks at 00:00:00 (edge, 1800 s), 00:29:59,
        # 00:30:00.4 (after purchase but same floor-second -> diff 0, kept),
        # and 01:30:00 (outside)
        {"event_id": 1, "ts": "2024-01-01T00:30:00Z", "user_id": 1,
         "event_type": "purchase", "value": 10.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:00:00Z", "user_id": 1,
         "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T00:29:59Z", "user_id": 1,
         "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 4, "ts": "2024-01-01T00:30:00.400Z", "user_id": 1,
         "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 5, "ts": "2024-01-01T01:30:00Z", "user_id": 1,
         "event_type": "click", "value": 0.0, "props": "{}"},
        # other user: no cross-user pairs
        {"event_id": 6, "ts": "2024-01-01T00:29:00Z", "user_id": 2,
         "event_type": "click", "value": 0.0, "props": "{}"},
    ]
    src = tmp_path / "sj_src"
    src.mkdir()
    _write_events_json(src / "b1.json", rows)
    from etl_oms_spark.streaming.events import EVENT_SCHEMA

    batch = spark.read.schema(EVENT_SCHEMA).json(str(src))
    want = sorted(
        (r["purchase_id"], r["click_id"])
        for r in click_purchase_pairs(batch).collect()
    )
    assert want == [(1, 2), (1, 3), (1, 4)]

    out = tmp_path / "sj_out"
    q = (
        click_purchase_pairs(stream_events(spark, str(src)))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "sj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(str(out)).collect()
    )
    assert got == want

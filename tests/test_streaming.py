"""Streaming pipeline smoke: file-stream source -> the batch extraction
plan -> idempotent per-epoch foreachBatch sink, driven synchronously with
availableNow (the guide's local pattern). Output must equal the batch
pipeline and the single-process oracle on the same input — streaming and
batch run the same plan."""

import shutil
from pathlib import Path

import pandas as pd
import pytest

from keras_ocr_spark.core.oracle import extract_turn
from keras_ocr_spark.plans.checkpoint import read_committed
from keras_ocr_spark.plans.pipeline import extract
from keras_ocr_spark.sources.transcripts import generate_pandas
from keras_ocr_spark.streaming import read_transcript_stream, start_extraction, turn_rate_monitor

_SENTENCE = "The quick brown fox jumps over the lazy dog near the riverbank."
#: Turns whose content begins or ends with whitespace that str.strip()
#: removes but Spark's trim() keeps.
WS_EDGE_TEXTS = [
    f"<div><p>\u3000{_SENTENCE}\u3000</p></div>",
    f"<div><p>\u00a0{_SENTENCE}\u00a0</p></div>",
    f"<div><p>\x0c{_SENTENCE}\x0b</p></div>",
    f"<div><p>\x0b{_SENTENCE}</p><p>{_SENTENCE}\x0c</p></div>",
]


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    pdf = generate_pandas(n_convs=8, make_skewed=False)
    edge = pd.DataFrame(
        {
            "conv_id": "conv-ws-edge",
            "turn_idx": range(len(WS_EDGE_TEXTS)),
            "role": "assistant",
            "text": WS_EDGE_TEXTS,
            "tool": None,
            "ts": pdf.ts.iloc[0],
        }
    )
    sdf = spark.createDataFrame(
        pd.concat([pdf, edge], ignore_index=True),
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    sdf.repartition(3).write.mode("overwrite").parquet(str(d / "transcripts"))
    return d


def test_stream_equals_batch(spark, landing, tmp_path):
    src = str(landing / "transcripts")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = start_extraction(read_transcript_stream(spark, src, max_files_per_trigger=1), out, ckpt)
    q.awaitTermination(120)

    def frame(rows):
        return {(r.conv_id, r.turn_idx): (r.clean_text, [(s.start, s.end) for s in r.spans]) for r in rows}

    stream_rows = frame(spark.read.parquet(out).collect())
    batch_rows = frame(extract(spark.read.parquet(src)).collect())
    assert stream_rows == batch_rows
    # The committed read sees every epoch: the same turns as batch.
    assert frame(read_committed(spark, out).collect()) == batch_rows

    texts = {(r.conv_id, r.turn_idx): r.text for r in spark.read.parquet(src).collect()}
    assert stream_rows.keys() == texts.keys()
    for key, raw in texts.items():
        o = extract_turn(raw)
        assert stream_rows[key] == (o.clean_text, [(s.start, s.end) for s in o.spans]), key
    assert all(stream_rows[("conv-ws-edge", i)][0] for i in range(len(WS_EDGE_TEXTS)))


def test_replayed_epoch_is_idempotent(spark, landing, tmp_path):
    """A micro-batch replay (failure between write and offset commit)
    re-invokes the sink with the SAME epoch_id — the per-epoch overwrite
    must leave exactly one copy, not append a duplicate."""
    from pyspark.sql import functions as F

    from keras_ocr_spark.streaming.extraction import epoch_sink

    src = str(landing / "transcripts")
    out = str(tmp_path / "replay_out")
    turns = extract(spark.read.parquet(src))
    epoch_sink(turns, 0, out)
    once = spark.read.parquet(out).count()
    epoch_sink(turns, 0, out)  # replay of the same epoch
    again = spark.read.parquet(out)
    assert again.count() == once
    assert again.select("conv_id", "turn_idx").distinct().count() == once
    assert again.select(F.col("epoch_id")).distinct().count() == 1


def test_replayed_committed_epoch_leaves_files_untouched(spark, landing, tmp_path):
    """A replay of a committed epoch returns before writing: its files
    keep their names and mtimes."""
    from keras_ocr_spark.streaming.extraction import epoch_sink

    out = tmp_path / "untouched"
    turns = extract(spark.read.parquet(str(landing / "transcripts")))
    epoch_sink(turns, 0, str(out))

    def files():
        return {p.relative_to(out): p.stat().st_mtime_ns for p in out.rglob("*") if p.is_file()}

    before = files()
    assert any(p.parts[0] == "epoch_id=0" for p in before)
    epoch_sink(turns, 0, str(out))  # replay of the committed epoch
    assert files() == before


def test_killed_epoch_is_invisible_to_read_committed(spark, landing, tmp_path):
    """An epoch killed after writing its data and before its manifest
    leaves an ``epoch_id=N`` directory no manifest names: the committed
    read must not see it, and its replay commits it once."""
    from keras_ocr_spark.streaming.extraction import epoch_sink

    out = str(tmp_path / "killed")
    turns = extract(spark.read.parquet(str(landing / "transcripts")))
    first, second = turns.filter("turn_idx % 2 = 0"), turns.filter("turn_idx % 2 = 1")
    epoch_sink(first, 0, out)
    second.write.parquet(f"{out}/epoch_id=1")  # the killed epoch: data, no manifest

    got = read_committed(spark, out)
    assert got.count() == first.count()
    assert [r.epoch_id for r in got.select("epoch_id").distinct().collect()] == [0]

    epoch_sink(second, 1, out)  # the replay
    got = read_committed(spark, out)
    assert got.count() == turns.count()
    assert got.select("conv_id", "turn_idx").distinct().count() == turns.count()


def test_watermarked_monitor_plan(spark, landing):
    stream = read_transcript_stream(spark, str(landing / "transcripts"))
    agg = turn_rate_monitor(stream)
    assert agg.isStreaming
    assert "window" in agg.columns and "n_turns" in agg.columns


def test_stateful_sessionize_stream_equals_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions emitted by
    the stream equal the batch window sessionization minus each user's
    final (still-open) session. Files arrive in time order (3 chunks)
    so state genuinely carries sessions ACROSS micro-batches."""
    import time as _time
    from pathlib import Path

    import duckdb
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from keras_ocr_spark.streaming.sessionize import sessionize_batch, sessionize_stream

    src = str(tmp_path / "events_landing")
    Path(src).mkdir()
    # Split the sf0.001 events into 3 time-ordered parquet FILES with
    # increasing mtimes (the file source processes oldest-first).
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev AS SELECT user_id, ts, value FROM read_parquet('/root/testdata/sf0.001/events.parquet') ORDER BY ts"
    )
    n = con.execute("SELECT count(*) FROM ev").fetchone()[0]
    cut1, cut2 = n // 3, 2 * n // 3
    for i, (lo, hi) in enumerate([(0, cut1), (cut1, cut2), (cut2, n)]):
        con.execute(
            f"COPY (SELECT * FROM ev ORDER BY ts LIMIT {hi - lo} OFFSET {lo}) TO '{src}/chunk{i}.parquet' (FORMAT PARQUET)"
        )
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionize_stream(stream, gap_minutes=30, timeout_ms=600_000)
        .writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, round(r.total_value, 2))
        for r in spark.sql("SELECT * FROM closed_sessions").collect()
    }

    batch = sessionize_batch(spark.read.parquet(src), gap_minutes=30)
    w_last = F.max("session_start_us").over(Window.partitionBy("user_id"))
    all_but_open = batch.withColumn("_last", w_last).filter(F.col("session_start_us") != F.col("_last"))
    expect = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, round(r.total_value, 2))
        for r in all_but_open.collect()
    }
    assert got == expect
    assert len(got) > 50  # non-trivial session count


def test_sessionize_identical_user_ts_ties(spark, tmp_path):
    """r2 ADVICE tie-break audit, pinned (r3 verdict Next #9): two
    events at the IDENTICAL (user_id, ts) must land in the same session
    with both counted, in stream and batch alike — session aggregates
    (min/max/count/sum) are insensitive to peer order, so ties cannot
    make stream and batch diverge."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from keras_ocr_spark.streaming.sessionize import sessionize_batch, sessionize_stream

    src = str(tmp_path / "tie_landing")
    base = 1_700_000_000_000_000  # us
    rows = [
        # user 1: two events at the SAME ts, one 10 min later (one session)
        (1, base, 1.0),
        (1, base, 2.0),
        (1, base + 600_000_000, 4.0),
        # user 2: identical-ts pair, then a >gap jump closing the session
        (2, base, 8.0),
        (2, base, 16.0),
        (2, base + 3_600_000_000, 32.0),
    ]
    spark.createDataFrame(
        [(u, ts, v) for u, ts, v in rows], "user_id long, ts_us long, value double"
    ).select("user_id", F.timestamp_micros("ts_us").alias("ts"), "value").write.parquet(src)

    batch = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.total_value)
        for r in sessionize_batch(spark.read.parquet(src), gap_minutes=30).collect()
    }
    assert (1, base, base + 600_000_000, 3, 7.0) in batch
    assert (2, base, base, 2, 24.0) in batch  # tie pair is ONE session of 2
    assert (2, base + 3_600_000_000, base + 3_600_000_000, 1, 32.0) in batch

    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(src)
    q = (
        sessionize_stream(stream, gap_minutes=30, timeout_ms=600_000)
        .writeStream.format("memory")
        .queryName("tie_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM tie_sessions").collect()
    }
    # stream emits only CLOSED sessions: user 2's first (tie) session
    assert (2, base, base, 2, 24.0) in got


def test_windowed_agg_complete_equals_batch(spark, tmp_path):
    """Complete-mode watermarked windowed agg over a finite stream must
    equal the batch groupBy(window) of the same rows (the driver-oracle
    parity for stream_windowed_counts)."""
    from keras_ocr_spark.streaming.windowed import windowed_event_counts

    src = "/root/testdata/sf0.001/events.parquet"
    landing = str(tmp_path / "wland")
    Path(landing).mkdir()
    shutil.copy(src, f"{landing}/events.parquet")
    stream = (
        spark.readStream.schema("user_id long, event_id long, event_type string, ts timestamp, value double")
        .parquet(landing)
    )
    q = (
        windowed_event_counts(stream, 60, 60)
        .writeStream.format("memory")
        .queryName("win_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    got = {
        (r.window_start_us, r.event_type, r.n_events, round(r.total_value, 2))
        for r in spark.sql("SELECT * FROM win_complete").collect()
    }
    want = {
        (r.window_start_us, r.event_type, r.n_events, round(r.total_value, 2))
        for r in windowed_event_counts(spark.read.parquet(src), 60, 60).collect()
    }
    assert got == want and len(got) > 10


def test_windowed_agg_append_drops_late_events(spark, tmp_path):
    """Append-mode watermark semantics, proven with three micro-batches
    (maxFilesPerTrigger=1). Spark's documented guarantee is
    one-directional: a late row arriving while its window's state is
    STILL LIVE may still aggregate (batch 2's 00:50 straggler — the
    hour-0 window emits once, at the end of that batch, including it);
    a row arriving AFTER the window was emitted and its state evicted
    is dropped — no duplicate hour-0 row ever appears (batch 3's 00:55
    straggler). The hard invariants: each window emits exactly once,
    and eviction is final."""
    import os
    import time as _time

    from keras_ocr_spark.streaming.windowed import windowed_event_counts

    landing = str(tmp_path / "late")
    Path(landing).mkdir()
    base = "2024-01-01 0{h}:{m:02d}:00"

    def write(fname, rows, mtime):
        # flat single files in the landing dir (a nested dir per write
        # would confuse file-source listing); mtime ordering fixes the
        # micro-batch order.
        pdf = spark.createDataFrame(
            [(1, i, "click", base.format(h=h, m=m), 1.0) for i, (h, m) in enumerate(rows)],
            "user_id long, event_id long, event_type string, ts_s string, value double",
        ).selectExpr("user_id", "event_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
        staging = str(tmp_path / f"stage_{fname}")
        pdf.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(Path(staging).glob("part-*.parquet"))
        dest = f"{landing}/{fname}.parquet"
        shutil.move(str(part), dest)
        os.utime(dest, (mtime, mtime))

    # batch 1: events in hours 0 and 3 -> watermark becomes 02:00
    # (60-min delay) for batch 2: the hour-0 window will close there.
    write("f1", [(0, 10), (0, 40), (3, 0)], mtime=1_000_000)
    _time.sleep(0.05)
    # batch 2: a straggler at 00:50 — BELOW the watermark but the
    # hour-0 state is still live, so it aggregates (Spark's documented
    # may-not-drop caveat); hour-0 emits at this batch's end with 3.
    write("f2", [(0, 50), (3, 30)], mtime=2_000_000)
    _time.sleep(0.05)
    # batch 3: a straggler at 00:55 AFTER hour-0 was emitted+evicted —
    # must be dropped (append mode can never re-emit a closed window).
    write("f3", [(0, 55), (4, 0)], mtime=3_000_000)

    stream = (
        spark.readStream.schema("user_id long, event_id long, event_type string, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    q = (
        windowed_event_counts(stream, 60, 60)
        .writeStream.format("memory")
        .queryName("win_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    emitted = spark.sql("SELECT * FROM win_append").collect()
    rows = {r.window_start_us: r.n_events for r in emitted}
    h0 = int(pd.Timestamp("2024-01-01 00:00:00").value // 1000)
    # hour-0 emitted EXACTLY ONCE (no zombie re-emission from batch 3's
    # straggler) with the pre-eviction events only: 00:10, 00:40, 00:50.
    assert len(emitted) == len(rows)  # one row per window
    assert rows.get(h0) == 3
    # the post-eviction 00:55 straggler was dropped: count stays 3 and
    # no second hour-0 row exists (checked above); the still-open
    # hour-4 window is unemitted.
    h4 = int(pd.Timestamp("2024-01-01 04:00:00").value // 1000)
    assert h4 not in rows


def test_stream_dedup_within_watermark_contract(spark, tmp_path):
    """dropDuplicatesWithinWatermark replay-window contract over three
    micro-batches: an in-horizon duplicate (same key, state live) is
    DROPPED; after the watermark evicts the key's state, a fresh
    arrival of the same key IS re-emitted. Emission count per key is
    therefore 1 within a horizon, 2 across an eviction."""
    import os
    import time as _time

    from keras_ocr_spark.streaming.dedup_stream import dedup_within_watermark

    landing = str(tmp_path / "dland")
    Path(landing).mkdir()

    def write(fname, rows, mtime):
        pdf = spark.createDataFrame(
            [(u, i, et, ts, 1.0) for i, (u, et, ts) in enumerate(rows)],
            "user_id long, event_id long, event_type string, ts_s string, value double",
        ).selectExpr("user_id", "event_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
        staging = str(tmp_path / f"stage_{fname}")
        pdf.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(Path(staging).glob("part-*.parquet"))
        dest = f"{landing}/{fname}.parquet"
        shutil.move(str(part), dest)
        os.utime(dest, (mtime, mtime))

    # batch 1: key (1, click) first seen at 00:00; key (2, view) too.
    write("f1", [(1, "click", "2024-01-01 00:00:00"), (2, "view", "2024-01-01 00:00:00")], 1_000_000)
    _time.sleep(0.05)
    # batch 2: duplicate of (1, click) within the 60-min horizon ->
    # dropped; the 03:00 row advances the watermark to 02:00 FOR THE
    # NEXT batch (watermarks trail one micro-batch).
    write("f2", [(1, "click", "2024-01-01 00:30:00"), (3, "click", "2024-01-01 03:00:00")], 2_000_000)
    _time.sleep(0.05)
    # batch 3: runs under watermark 02:00 -> (1, click)'s state
    # (expiry 00:00 + 60min = 01:00) is evicted at this batch.
    write("f3", [(4, "scroll", "2024-01-01 03:05:00")], 3_000_000)
    _time.sleep(0.05)
    # batch 4: (1, click) re-arrives AFTER eviction -> re-emitted.
    write("f4", [(1, "click", "2024-01-01 03:10:00")], 4_000_000)

    stream = (
        spark.readStream.schema("user_id long, event_id long, event_type string, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    q = (
        dedup_within_watermark(stream, ["user_id", "event_type"], "ts", "60 minutes")
        .writeStream.format("memory")
        .queryName("stream_dedup_contract")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    rows = spark.sql("SELECT user_id, event_type, ts FROM stream_dedup_contract").collect()
    emits = {}
    for r in rows:
        emits.setdefault((r.user_id, r.event_type), []).append(str(r.ts))
    assert sorted(emits[(2, "view")]) == ["2024-01-01 00:00:00"]
    assert sorted(emits[(3, "click")]) == ["2024-01-01 03:00:00"]
    assert sorted(emits[(4, "scroll")]) == ["2024-01-01 03:05:00"]
    # key (1, click): first emission + post-eviction re-emission; the
    # in-horizon 00:30 duplicate never appears.
    assert sorted(emits[(1, "click")]) == ["2024-01-01 00:00:00", "2024-01-01 03:10:00"]


def test_stream_dedup_batch_degrade(spark):
    """On a batch frame the operator degrades to plain dropDuplicates."""
    from keras_ocr_spark.streaming.dedup_stream import dedup_within_watermark

    df = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00"), (1, "a", "2024-01-01 05:00:00"), (2, "b", "2024-01-01 00:00:00")],
        "user_id long, event_type string, ts_s string",
    ).selectExpr("user_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts")
    got = dedup_within_watermark(df, ["user_id", "event_type"], "ts", "60 minutes")
    assert got.count() == 2


def test_stream_stream_join_state_across_batches(spark, tmp_path):
    """Stream-stream attribution: a click in micro-batch 1 joins a
    purchase arriving in micro-batch 2 — the click is BUFFERED JOIN
    STATE across batches; a purchase outside the 30-min window never
    matches."""
    import os
    import time as _time

    from keras_ocr_spark.streaming.join_stream import attribution_join

    landing = str(tmp_path / "jland")
    Path(landing).mkdir()

    def write(fname, rows, mtime):
        pdf = spark.createDataFrame(
            [(u, i, et, ts, 1.0) for i, (u, et, ts) in rows],
            "user_id long, event_id long, event_type string, ts_s string, value double",
        ).selectExpr("user_id", "event_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
        staging = str(tmp_path / f"stage_{fname}")
        pdf.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(Path(staging).glob("part-*.parquet"))
        dest = f"{landing}/{fname}.parquet"
        shutil.move(str(part), dest)
        os.utime(dest, (mtime, mtime))

    # batch 1: two clicks, no purchases yet.
    write(
        "f1",
        [(1, (1, "click", "2024-01-01 00:00:00")), (2, (2, "click", "2024-01-01 00:00:00"))],
        1_000_000,
    )
    _time.sleep(0.05)
    # batch 2: user 1 purchases inside the window (cross-batch match);
    # user 2 purchases 2h later (outside the 30-min window: no match).
    write(
        "f2",
        [(3, (1, "purchase", "2024-01-01 00:10:00")), (4, (2, "purchase", "2024-01-01 02:00:00"))],
        2_000_000,
    )

    def side(et):
        return (
            spark.readStream.schema(
                "user_id long, event_id long, event_type string, ts timestamp, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
            .filter(f"event_type = '{et}'")
        )

    q = (
        attribution_join(side("click"), side("purchase"), 30, 60)
        .writeStream.format("memory")
        .queryName("attrib_contract")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    rows = spark.sql("SELECT * FROM attrib_contract").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.user_id, r.click_event_id, r.purchase_event_id) == (1, 1, 3)
    assert r.lag_us == 10 * 60 * 1_000_000

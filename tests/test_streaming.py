"""Streaming pipeline smoke: file-stream source -> the batch extraction
plan -> idempotent per-epoch foreachBatch sink, driven synchronously with
availableNow (the guide's local pattern). Output must equal the batch
pipeline and the single-process oracle on the same input — streaming and
batch run the same plan."""

import pandas as pd
import pytest

from keras_ocr_spark.core.oracle import extract_turn
from keras_ocr_spark.plans.checkpoint import read_committed
from keras_ocr_spark.plans.pipeline import extract
from keras_ocr_spark.sources.transcripts import generate_pandas
from keras_ocr_spark.streaming import read_transcript_stream, start_extraction

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

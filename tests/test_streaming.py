"""Structured Streaming tailer: drain-replay equivalence, checkpoint
resume (exactly-once), out-of-order delivery, mid-stream schema
evolution, per-microbatch metrics."""

from __future__ import annotations

import json

import pytest

from investigraph_etl_spark.changelog import (
    oracle_reduce,
    read_changelog_pandas,
    write_changelog,
)
from investigraph_etl_spark.sources.lake import HashLakeTable
from investigraph_etl_spark.streaming.tailer import tail_changelog, target_schema
from tests.conftest import assert_pdf_equal


def _drain(q):
    q.awaitTermination(300)


@pytest.fixture()
def lake(spark, tmp_path):
    return HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=8
    )


def test_stream_replay_equals_oracle(spark, tmp_path, lake):
    log = str(tmp_path / "log")
    write_changelog(log, 3000, chunk_size=250, seed=11, n_docs=200, shuffle_window=40)
    q = tail_changelog(
        spark, log, lake, str(tmp_path / "ckpt"),
        max_files_per_trigger=3,
        metrics_path=str(tmp_path / "metrics.jsonl"),
    )
    _drain(q)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(read_changelog_pandas(log)))
    # metrics: one line per microbatch with throughput + lineage
    lines = [json.loads(l) for l in (tmp_path / "metrics.jsonl").read_text().splitlines()]
    assert len(lines) >= 3
    assert {frozenset(l) for l in lines} == {
        frozenset(
            {
                "batch_id", "rows_in", "min_seq", "max_seq", "lag_sec",
                "events_per_sec", "seconds", "lake_version", "skipped",
                "touched_buckets", "compacted_buckets", "timings",
                "wall_time",
            }
        )
    }
    assert all(
        set(l["timings"]) == {"plan_sec", "write_sec", "compact_sec"}
        and l["compacted_buckets"] >= 0
        for l in lines
    )
    assert sum(l["rows_in"] for l in lines) == 3000


def test_stream_resume_from_checkpoint_exactly_once(spark, tmp_path, lake):
    """Stop mid-stream, deliver more files, resume from the same
    checkpoint — final state must equal a clean single replay."""
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    write_changelog(log, 1500, chunk_size=250, seed=12, n_docs=150)
    q = tail_changelog(spark, log, lake, ckpt, max_files_per_trigger=2)
    _drain(q)
    v_mid = lake.version
    assert v_mid > 0
    # new events arrive while "down" (continue the same index space)
    import shutil
    import pathlib
    more = write_changelog(
        str(tmp_path / "log2"), 3000, chunk_size=250, seed=12, n_docs=150
    )
    for f in more[6:]:  # chunks 6..11 = events 1500..3000
        shutil.copy(f, pathlib.Path(log) / pathlib.Path(f).name)
    q2 = tail_changelog(spark, log, lake, ckpt, max_files_per_trigger=2)
    _drain(q2)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(read_changelog_pandas(log)))


def test_stream_replayed_batch_is_skipped(spark, tmp_path, lake):
    """Simulate a foreachBatch retry: restarting from a checkpoint whose
    last batch committed to the lake but not to the stream log must not
    double-apply (idempotent commit log)."""
    log = str(tmp_path / "log")
    write_changelog(log, 500, chunk_size=250, seed=13, n_docs=50)
    q = tail_changelog(spark, log, lake, str(tmp_path / "ckpt1"), max_files_per_trigger=2)
    _drain(q)
    state1 = lake.read().toPandas()
    # fresh checkpoint replays batch ids 0.. over the same lake ⇒ all skipped
    q2 = tail_changelog(spark, log, lake, str(tmp_path / "ckpt2"), max_files_per_trigger=2)
    _drain(q2)
    assert_pdf_equal(lake.read().toPandas(), state1)


def test_stream_schema_evolution_mid_stream(spark, tmp_path, lake):
    log = str(tmp_path / "log")
    write_changelog(
        log, 2000, chunk_size=250, seed=14, n_docs=150, evolution_at=1000
    )
    q = tail_changelog(
        spark, log, lake, str(tmp_path / "ckpt"), with_lang=True,
        max_files_per_trigger=2,
    )
    _drain(q)
    assert "lang" in [f.name for f in lake.schema.fields]
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(read_changelog_pandas(log)))


def test_windowed_agg_with_watermark_matches_batch(spark, tmp_path):
    """T5 event-time windowed aggregation: readStream + withWatermark +
    tumbling window (append mode) over the changelog must equal the
    same window computed in batch, once the stream drains.  The final
    windows are emitted because availableNow-drain closes the stream
    (watermark advances past every window at end-of-data)."""
    import pyspark.sql.functions as F

    from investigraph_etl_spark.streaming.tailer import change_schema

    log = str(tmp_path / "wlog")
    write_changelog(log, 2000, chunk_size=250, seed=21, n_docs=150)

    def windowed(df):
        return (
            df.withWatermark("event_time", "5 seconds")
            .groupBy(F.window("event_time", "15 seconds").alias("w"), "op")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "op", "n")
        )

    stream = (
        spark.readStream.schema(change_schema())
        .option("maxFilesPerTrigger", 2)
        .parquet(log)
    )
    out_dir = str(tmp_path / "wout")
    q = (
        windowed(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["ws"], r["op"]): r["n"]
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = spark.read.schema(change_schema()).parquet(log)
    expected_all = {
        (r["ws"], r["op"]): r["n"] for r in windowed(batch).collect()
    }
    # append mode only emits windows the final watermark has passed;
    # every emitted window must match batch exactly, and only the
    # trailing still-open windows may be missing
    assert got
    for k, v in got.items():
        assert expected_all[k] == v, k
    missing_ws = {ws for ws in (set(expected_all) - set(got)) for ws in [ws[0]]}
    emitted_ws = {ws for ws, _ in got}
    assert all(
        ws > max(emitted_ws) for ws in missing_ws
    ), "a closed window was not emitted"

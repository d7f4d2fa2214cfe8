"""Reading the tailer's per-batch log while the tailer appends to it."""

from __future__ import annotations

import json

from cdc import BULK_EVENTS, CHUNK_EVENTS, upto, wait_commit


def test_wait_commit_finds_the_batch_holding_a_sequence_and_skips_a_partial_line(tmp_path):
    log = tmp_path / "batches.jsonl"
    bulk = {"rows_in": BULK_EVENTS, "min_seq": 0, "max_seq": BULK_EVENTS - 1, "wall_time": 1.0}
    chunk = {"rows_in": CHUNK_EVENTS, "min_seq": BULK_EVENTS, "max_seq": upto(0), "wall_time": 2.0}
    log.write_text(json.dumps(bulk) + "\n" + json.dumps(chunk) + "\n" + '{"rows_in": 20')
    assert wait_commit(log, BULK_EVENTS - 1, timeout=0.1) == bulk
    assert wait_commit(log, upto(0), timeout=0.1) == chunk
    assert wait_commit(log, upto(1), timeout=0.05) is None


def test_chunks_follow_the_bulk_slice():
    assert upto(-1) == BULK_EVENTS - 1
    assert upto(1) - upto(0) == CHUNK_EVENTS

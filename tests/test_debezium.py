"""Debezium/WAL envelope decode → merge parity (sources/debezium.py).

The reference has no CDC source (its extract stage re-reads whole
files — /root/reference/investigraph/logic/extract.py); this is the
engine-new adapter for the north rule's binlog/WAL input.  Parity is
pinned the same way the native changelog path is: decode the
envelope-encoded stream, replay it through the identical
normalize→LWW→merge pipeline, and require token-array equality with
the single-threaded oracle reducer."""

from __future__ import annotations

import json

import pytest

from investigraph_etl_spark.changelog import (
    gen_events_pandas,
    oracle_reduce,
)
from investigraph_etl_spark.sources.debezium import (
    debezium_stream,
    decode_debezium,
    split_dead_letters,
)
from investigraph_etl_spark.sources.lake import HashLakeTable
from investigraph_etl_spark.streaming.tailer import (
    change_schema,
    prepare_batch,
    tail_changelog,
    tail_debezium,
    target_schema,
)
from tests.conftest import assert_pdf_equal

OPS_TO_CODE = {"insert": "c", "update": "u", "delete": "d"}


def _opt_int(v):
    return None if v is None or v != v else int(v)


def _envelope(ev: dict, *, flat: bool = False, op_code: str | None = None) -> str:
    """Encode one engine change event as a Debezium JSON envelope."""
    toks = ev["tokens"]
    row = {
        "doc_id": ev["doc_id"],
        "tokens": None if toks is None else [int(t) for t in toks],
        "n_tok": _opt_int(ev["n_tok"]),
        "source": ev["source"],
    }
    lang = ev.get("lang")
    if isinstance(lang, str):
        row["lang"] = lang
    op = op_code or OPS_TO_CODE[ev["op"]]
    payload = {
        "before": row if op == "d" else None,
        "after": None if op == "d" else row,
        "source": {"name": "pg", "lsn": int(ev["event_sequence"]), "txId": None},
        "op": op,
        "ts_ms": int(ev["event_time"].timestamp() * 1000),
    }
    return json.dumps(payload if flat else {"schema": None, "payload": payload})


def _events_pdf(n: int, seed: int = 7, n_docs: int = 40):
    pdf = gen_events_pandas(0, n, seed=seed, n_docs=n_docs)
    recs = pdf.to_dict("records")
    for r in recs:
        if r["tokens"] is not None:
            r["tokens"] = list(r["tokens"])
    return pdf, recs


def test_decode_roundtrip_wrapped_and_flat(spark):
    pdf, recs = _events_pdf(200)
    lines = [
        _envelope(r, flat=(i % 2 == 1)) for i, r in enumerate(recs)
    ]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    decoded = decode_debezium(raw)
    good, dead = split_dead_letters(decoded)
    assert dead.count() == 0
    out = good.toPandas()
    # decoded columns match the native changelog schema exactly
    assert [f.name for f in change_schema().fields] == list(out.columns)
    exp = pdf[["event_sequence", "op", "doc_id", "tokens", "n_tok", "source"]]
    got = out[["event_sequence", "op", "doc_id", "tokens", "n_tok", "source"]]
    assert_pdf_equal(got, exp, key="event_sequence")
    # r (snapshot read) decodes as insert
    snap = decode_debezium(
        spark.createDataFrame(
            [(_envelope(recs[0], op_code="r"),)], "value string"
        )
    ).toPandas()
    assert snap["op"].tolist() == ["insert"] and not snap["_dead"][0]


def test_tombstone_and_kafka_keys(spark):
    rows = [
        # tombstone: null value, key envelope, offset supplies the seq
        (json.dumps({"payload": {"doc_id": "doc-1"}}), None, 100),
        # tombstone with a bare string key
        ("doc-2", None, 101),
        # tombstone without seq_col coverage is exercised below
    ]
    raw = spark.createDataFrame(rows, "key string, value string, offset long")
    out = decode_debezium(raw, key_col="key", seq_col="offset").toPandas()
    assert out["op"].tolist() == ["delete", "delete"]
    assert out["doc_id"].tolist() == ["doc-1", "doc-2"]
    assert out["event_sequence"].tolist() == [100, 101]
    assert not out["_dead"].any()
    # no seq_col → tombstone has no total-order position → dead letter
    out2 = decode_debezium(
        raw.drop("offset"), key_col="key"
    ).toPandas()
    assert out2["_dead"].all()


def test_dead_letters_quarantined(spark):
    pdf, recs = _events_pdf(5)
    bad = [
        "{not json at all",                        # malformed
        json.dumps({"hello": "world"}),            # not an envelope
        _envelope(recs[0], op_code="x"),           # unknown op code
        json.dumps({"payload": {"op": "c", "after": {"doc_id": "d"},
                                "source": {}}}),   # no lsn/txId/ts_ms
    ]
    lines = [_envelope(r) for r in recs] + bad
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    good, dead = split_dead_letters(decode_debezium(raw))
    assert good.count() == len(recs)
    dead_pdf = dead.toPandas()
    assert len(dead_pdf) == len(bad)
    # raw text preserved for offline triage
    assert set(dead_pdf["raw"]) == set(bad)


def test_debezium_stream_replay_equals_oracle(spark, tmp_path):
    """End-to-end: JSON-lines envelope files → tail_debezium →
    normalize → LWW → lake MERGE ≡ single-threaded oracle, with the
    dead letters quarantined and counted."""
    pdf, recs = _events_pdf(3000, seed=11, n_docs=150)
    env_dir = tmp_path / "envelopes"
    env_dir.mkdir()
    bad = ["{corrupt", json.dumps({"nope": 1})]
    for chunk in range(6):
        lines = [
            _envelope(r, flat=(i % 3 == 0))
            for i, r in enumerate(recs[chunk * 500 : (chunk + 1) * 500])
        ]
        if chunk == 2:
            lines += bad
        (env_dir / f"chunk-{chunk:04d}.jsonl").write_text("\n".join(lines))
    lake = HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=4
    )
    q = tail_debezium(
        spark,
        str(env_dir),
        lake,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        dead_letter_dir=str(tmp_path / "dead"),
    )
    q.awaitTermination(120)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(pdf))
    dead = spark.read.parquet(str(tmp_path / "dead")).toPandas()
    assert len(dead) == len(bad)
    assert set(dead["raw"]) == set(bad)


def test_debezium_schema_evolution_mid_stream(spark, tmp_path):
    """Additive evolution through the envelope path: later envelopes
    grow a ``lang`` field in the after image; the decode (with_lang)
    nulls it for earlier events and the lake promotes the new column
    on first sight — same contract as the native changelog path."""
    import pandas as pd

    pdf1 = gen_events_pandas(0, 800, seed=5, n_docs=60)
    pdf2 = gen_events_pandas(800, 800, seed=5, n_docs=60, with_lang=True)
    env_dir = tmp_path / "envelopes"
    env_dir.mkdir()
    for i, pdf in enumerate((pdf1, pdf2)):
        recs = pdf.to_dict("records")
        (env_dir / f"chunk-{i:04d}.jsonl").write_text(
            "\n".join(_envelope(r) for r in recs)
        )
    lake = HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=4
    )
    q = tail_debezium(
        spark,
        str(env_dir),
        lake,
        str(tmp_path / "ckpt"),
        with_lang=True,
        max_files_per_trigger=1,
        dead_letter_dir=str(tmp_path / "dead"),
    )
    q.awaitTermination(120)
    expected = oracle_reduce(pd.concat([pdf1, pdf2], ignore_index=True))
    assert "lang" in [f.name for f in lake.schema.fields]
    assert_pdf_equal(lake.read().toPandas(), expected)
    assert spark.read.parquet(str(tmp_path / "dead")).count() == 0


def test_dead_letter_stream_without_dir_raises(spark, tmp_path):
    """A stream that carries the ``_dead`` marker and no quarantine
    directory is refused before any batch runs: its dead letters would
    otherwise be dropped unrecorded."""
    env_dir = tmp_path / "envelopes"
    env_dir.mkdir()
    (env_dir / "chunk-0000.jsonl").write_text("{corrupt")
    lake = HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=4
    )
    stream = debezium_stream(spark, str(env_dir))
    with pytest.raises(ValueError, match="dead_letter_dir"):
        tail_changelog(
            spark, str(env_dir), lake, str(tmp_path / "ckpt"), stream=stream
        )
    assert lake.version == 0


def test_decode_is_streaming_safe_and_udf_free(spark):
    """The decode must stay a stateless projection: no UDFs (scale
    rule — §UDF surface) and usable under readStream unchanged."""
    pdf, recs = _events_pdf(3)
    raw = spark.createDataFrame([(_envelope(r),) for r in recs], "value string")
    plan = decode_debezium(raw)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # narrow: no shuffle

"""Text-analysis operators + multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from investigraph_etl_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    fake_feature_decoder,
    frame_sample_plan,
    real_decoder_stub,
)
from investigraph_etl_spark.operators.textstats import (
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    quality_stats,
    token_count,
)


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "  Hello,  world! 42 ")], ["doc_id", "text"])
    row = df.select(
        token_count(F.col("text")).alias("ws"),
        bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).first()
    assert row["ws"] == 3
    # pieces: hello , world ! 42  → 5
    assert row["bpe"] == 5


def test_quality_stats(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat quietly today"), (2, "!!! ???")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in quality_stats(df).collect()}
    assert out[1]["n_words"] == 8 and out[1]["keep"]
    assert not out[2]["keep"]
    assert out[1]["stopword_ratio"] == pytest.approx(2 / 8, abs=1e-4)


def test_lang_id_votes(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in a house"),
            (2, "der hund und die katze ist da"),
            (3, "xyzzy qwerty asdf"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_doc_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma  beta alpha alpha")],
        ["doc_id", "text"],
    )
    fps = [r["fingerprint"] for r in doc_fingerprint(df).collect()]
    assert fps[0] == fps[1]


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", bytearray(b"imgbytes-1"), (32, 24, None, "png")),
        (2, "video", bytearray(b"vidbytes-2"), (640, 480, 3500, "h264")),
        (3, "audio", None, (None, None, 2000, "flac")),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_with_fake_decoder(spark, media):
    out = {r["media_id"]: r for r in extract_features(media, decoder=fake_feature_decoder).collect()}
    assert len(out) == 3
    assert len(out[1]["feature"]) == 8
    assert out[1]["n_bytes"] == 10 and out[3]["n_bytes"] == 0
    # deterministic: same payload → same features
    again = extract_features(media, decoder=fake_feature_decoder).collect()
    assert {r["media_id"]: list(r["feature"]) for r in again} == {
        k: list(v["feature"]) for k, v in out.items()
    }


def test_real_decoder_is_stubbed(spark, media):
    with pytest.raises(Exception):  # NotImplementedError crosses Py4J as PythonException
        extract_features(media).collect()
    with pytest.raises(NotImplementedError):
        real_decoder_stub(pd.Series([b"x"]))


def test_frame_sample_plan(spark, media):
    frames = frame_sample_plan(media, every_ms=1000).collect()
    got = [(r["media_id"], r["frame_ts_ms"]) for r in frames]
    assert got == [(2, 0), (2, 1000), (2, 2000)]


def test_pii_scrub_redacts_typed_spans(spark):
    from investigraph_etl_spark.operators.textstats import pii_scrub

    rows = [
        (1, "mail me at jane.doe+x@corp.example.org today"),
        (2, "call +44 207-9460 958 or 555-123-4567"),
        (3, "server at 192.168.0.1 responded"),
        (4, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert "<email>" in out[1]["text_clean"] and out[1]["n_redactions"] == 1
    assert "jane" not in out[1]["text_clean"]
    assert "<phone>" in out[2]["text_clean"] and out[2]["n_redactions"] >= 1
    assert out[3]["text_clean"] == "server at <ipv4> responded"
    assert out[4]["n_redactions"] == 0 and out[4]["text_clean"] == rows[3][1]


def test_pii_scrub_counts_matches_not_placeholders(spark):
    """A source text already containing a literal placeholder must not
    inflate n_redactions (counts are per-stage regex matches)."""
    from investigraph_etl_spark.operators.textstats import pii_scrub

    df = spark.createDataFrame(
        [(1, "docs mention <email> tokens and a real a@b.co address")],
        ["doc_id", "text"],
    )
    r = pii_scrub(df).collect()[0]
    assert r["n_redactions"] == 1
    assert r["text_clean"].count("<email>") == 2  # literal + redacted


def test_repetition_stats_flags_loops(spark):
    """Gopher repetition filters: a one-word loop and a bigram loop are
    dropped, natural text is kept, single-word docs are well-defined."""
    from investigraph_etl_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),
            (2, "buy now buy now buy now buy now"),
            (3, "the quick brown fox jumps over a lazy dog near banks"),
            (4, "word"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(docs).collect()}
    assert got[1]["top_word_frac"] == 1.0 and not got[1]["rep_keep"]
    assert got[2]["top_bigram_frac"] > 0.18 and not got[2]["rep_keep"]
    assert got[3]["rep_keep"]
    assert got[4]["n_words"] == 1 and got[4]["top_bigram_frac"] == 0.0
    # empty-text docs emit no row
    empty = spark.createDataFrame([(9, "   ")], "doc_id long, text string")
    assert repetition_stats(empty).count() == 0


def test_repetition_stats_randomized_vs_python_oracle(spark):
    """End-to-end randomized oracle for the round-5 pandas-UDF shape:
    200 seeded random documents (small alphabets force repeats, sizes
    0-40 words) plus edge cases, verified against an independent pure-
    Python Counter oracle computing the same rounded ratios and keep
    rule.  One Spark job for all cases."""
    import random
    import re
    from collections import Counter

    from investigraph_etl_spark.operators.textstats import repetition_stats

    # the production token rule: ASCII whitespace only (Java \s), so
    # e.g. NBSP is NOT a boundary — str.split() would split on it
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")
    nbsp = "a\u00a0b a\u00a0b c"  # two "a\u00a0b" tokens + "c"
    rng = random.Random(42)
    texts: list[str] = [
        "",               # no words -> no row
        "   ",            # whitespace only -> no row
        "word",           # singleton, no bigrams
        "A a\ta",          # case-fold + tab whitespace
        "x Y x y X y",    # interleaved
        nbsp,
    ]
    for _ in range(200):
        n = rng.randint(0, 40)
        alphabet = rng.randint(1, 6)
        texts.append(
            " ".join(chr(ord("a") + rng.randrange(alphabet)) for _ in range(n))
        )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}

    assert got[texts.index(nbsp)]["n_words"] == 3
    for i, t in enumerate(texts):
        ws = [w for w in ws_re.split(t.lower()) if w]
        if not ws:
            assert i not in got, (i, t)
            continue
        cw, bg = Counter(ws), Counter(zip(ws, ws[1:]))
        dr = round(len(cw) / len(ws), 4)
        twf = round(max(cw.values()) / len(ws), 4)
        tbf = round(max(bg.values()) / (len(ws) - 1), 4) if bg else 0.0
        r = got[i]
        assert r["n_words"] == len(ws), (i, t, r)
        assert r["distinct_word_ratio"] == dr, (i, t, r)
        assert r["top_word_frac"] == twf, (i, t, r)
        assert r["top_bigram_frac"] == tbf, (i, t, r)
        assert r["rep_keep"] == (dr >= 0.2 and twf <= 0.2 and tbf <= 0.18), (i, t, r)

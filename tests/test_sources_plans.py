"""Readers (S1-S3), stats/export (A3/S7/S8), country/date cleaning
(F8/F9), custom fan-out transform (§2.10), CLI runner, skew stress."""

from __future__ import annotations

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from investigraph_etl_spark.functions.countries import clean_country
from investigraph_etl_spark.functions.dates import clean_date
from investigraph_etl_spark.plans.custom import (
    apply_custom_transform,
    entity_statements,
    resolve_handler,
)
from investigraph_etl_spark.plans.stats import (
    dataset_stats,
    export_entities_json,
    schema_counts,
)
from investigraph_etl_spark.sources.readers import Source, read_source, seed_sources

REF = pathlib.Path("/root/reference/tests/fixtures")


# ------------------------------------------------------------- readers
def test_seed_sources_glob_and_exclude(tmp_path):
    for name in ["a.csv", "b.csv", "c.json", "skip_me.csv"]:
        (tmp_path / name).write_text("x")
    srcs = seed_sources(str(tmp_path), pattern="*.csv", exclude="skip_*")
    assert [s.name for s in srcs] == ["a", "b"]


def test_read_csv_with_source_stamp(spark, tmp_path):
    f = tmp_path / "people.csv"
    f.write_text("name,age\nada,36\ngrace,45\n")
    df = read_source(spark, Source(uri=str(f)))
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0]["__source__"] == "people"
    assert df.schema["age"].dataType.simpleString() == "string"  # no inference


def test_read_csv_skiprows_and_encoding(spark, tmp_path):
    f = tmp_path / "junk.csv"
    raw = "JUNK PREAMBLE LINE\nname,city\nrené,münchen\n".encode("ISO-8859-1")
    f.write_bytes(raw)
    df = read_source(
        spark, Source(uri=str(f), options={"skiprows": 1, "encoding": "latin"})
    )
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "rené" and rows[0]["city"] == "münchen"


def test_read_gdho_reference_fixture(spark):
    """Reference parity: gdho CSV reads 997 records with skiprows=1,
    encoding=latin, dtype=str (tests/test_extract.py:29)."""
    fixture = REF / "gdho" / "organizations.csv"
    if not fixture.exists():
        pytest.skip("reference fixtures not available")
    df = read_source(
        spark,
        Source(
            uri=str(fixture),
            options={"skiprows": 1, "encoding": "latin", "dtype": "str", "multiline": True},
        ),
    )
    assert df.count() == 997


# -------------------------------------------------------- stats/export
@pytest.fixture()
def stmts(spark):
    rows = [
        ("e1", "Person", "name", "Ada", "d1"),
        ("e1", "Person", "country", "fr", "d1"),
        ("e2", "Person", "name", "Grace", "d1"),
        ("e3", "Company", "name", "Acme", "d1"),
        ("e3", "Company", "jurisdiction", "de", "d1"),
    ]
    return spark.createDataFrame(rows, ["id", "schema", "prop", "value", "dataset"])


def test_dataset_stats(stmts):
    s = dataset_stats(stmts)
    assert s["entity_count"] == 3 and s["statement_count"] == 5
    assert {x["name"]: x["count"] for x in s["schemata"]} == {"Person": 2, "Company": 1}
    assert {x["code"] for x in s["countries"]} == {"fr", "de"}


def test_schema_counts(stmts):
    out = {r["schema"]: r["n_entities"] for r in schema_counts(stmts).collect()}
    assert out == {"Person": 2, "Company": 1}


def test_export_entities_json_roundtrip(spark, tmp_path):
    from investigraph_etl_spark.plans.mapping import entities_from_statements

    rows = [
        ("e1", "Person", "name", "Ada", "d1"),
        ("e1", "Person", "name", "Ada L.", "d1"),
    ]
    stmts = spark.createDataFrame(rows, ["id", "schema", "prop", "value", "dataset"])
    ents = entities_from_statements(stmts)
    n = export_entities_json(ents, str(tmp_path / "out"))
    assert n == 1
    lines = []
    for f in (tmp_path / "out").glob("part-*"):
        lines += [json.loads(l) for l in f.read_text().splitlines()]
    assert len(lines) == 1
    e = lines[0]
    assert e["id"] == "e1" and e["schema"] == "Person"
    assert sorted(e["properties"]["name"]) == ["Ada", "Ada L."]
    assert e["referents"] == [] and e["datasets"] == ["d1"]


# ------------------------------------------------- country/date cleaning
def test_clean_country_reference_parity(spark):
    # reference: make_entity(...).add("country", "France") → "fr"
    # (/root/reference/tests/test_util.py:23-27)
    df = spark.createDataFrame(
        [("France",), ("GB",), (" deutschland ",), ("Atlantis",), ("eu",)],
        ["c"],
    )
    got = [r["v"] for r in df.select(clean_country(F.col("c")).alias("v")).collect()]
    assert got == ["fr", "gb", "de", None, "eu"]


def test_clean_date_formats(spark):
    df = spark.createDataFrame(
        [("2023-05-17",), ("17.05.2023",), ("05/17/2023",), ("May 17, 2023",),
         ("2023-05-17 14:30:00",), ("not a date",)],
        ["d"],
    )
    got = [r["v"] for r in df.select(clean_date(F.col("d")).alias("v")).collect()]
    assert got[:5] == ["2023-05-17"] * 5 and got[5] is None


# ------------------------------------------------------ custom transform
def _make_meeting_transform():
    """ec_meetings-shaped fan-out: one record → org + person entities +
    a membership linking them (transform.py:129-135 id composition).
    Built as a closure so cloudpickle ships it by value (test modules
    aren't importable on executors)."""

    def transform(rec: dict) -> list[dict]:
        import hashlib

        from investigraph_etl_spark.plans.custom import entity_statements

        out = []
        org_id = "org-" + rec["org"].lower().replace(" ", "-")
        person_id = "p-" + rec["person"].lower().replace(" ", "-")
        out += entity_statements(org_id, "Organization", {"name": rec["org"]}, "d")
        out += entity_statements(person_id, "Person", {"name": rec["person"]}, "d")
        mid = "m-" + hashlib.sha1(
            "|".join(sorted([org_id, person_id])).encode()
        ).hexdigest()
        out += entity_statements(
            mid, "Membership", {"member": person_id, "organization": org_id}, "d"
        )
        return out

    return transform


def test_custom_transform_fanout(spark):
    df = spark.createDataFrame(
        [("Acme", "Ada"), ("Globex", "Grace")], ["org", "person"]
    )
    stmts = apply_custom_transform(df, _make_meeting_transform())
    rows = stmts.collect()
    # 2 records × (1 org + 1 person + 2 membership props) = 8 statements
    assert len(rows) == 8
    schemas = {r["schema"] for r in rows}
    assert schemas == {"Organization", "Person", "Membership"}
    # deterministic membership ids: rerun produces identical output
    again = apply_custom_transform(df, _make_meeting_transform()).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_resolve_handler_module_spec():
    fn = resolve_handler("investigraph_etl_spark.plans.custom:entity_statements")
    assert fn is entity_statements


def test_entity_statements_cleaning():
    rows = entity_statements("e1", "Person", {"name": ["  Ada  ", "", None]}, "d")
    assert rows == [
        {"id": "e1", "schema": "Person", "prop": "name", "value": "Ada", "dataset": "d"}
    ]


# ------------------------------------------------------------ CLI + skew
def test_cli_replay_and_export(spark, tmp_path):
    from investigraph_etl_spark.changelog import oracle_reduce, read_changelog_pandas, write_changelog
    from investigraph_etl_spark.run import main

    log = str(tmp_path / "log")
    write_changelog(log, 1200, chunk_size=400, seed=21, n_docs=100)
    main(["replay", "--changelog", log, "--lake", str(tmp_path / "lake"),
          "--num-buckets", "8"])
    main(["export", "--lake", str(tmp_path / "lake"), "--out", str(tmp_path / "out"),
          "--num-buckets", "8"])
    got = spark.read.parquet(str(tmp_path / "out"))
    oracle = oracle_reduce(read_changelog_pandas(log))
    assert got.count() == len(oracle)
    # point lookup via CLI prints JSON lines for the requested keys
    key = oracle["doc_id"].iloc[0]
    main(["lookup", "--lake", str(tmp_path / "lake"), "--keys", key,
          "--num-buckets", "8"], )
    # time-travel export of the CURRENT version equals the live export
    v = int((tmp_path / "lake" / "_latest").read_text())
    main(["export", "--lake", str(tmp_path / "lake"),
          "--out", str(tmp_path / "out_v"), "--version", str(v),
          "--num-buckets", "8"])
    assert spark.read.parquet(str(tmp_path / "out_v")).count() == len(oracle)


def test_skew_heavy_replay(spark, tmp_path):
    """SURVEY §5 skew test: 50% of events hit ONE doc_id; replay with
    salting must complete and match the oracle."""
    from investigraph_etl_spark.changelog import (
        gen_events_pandas,
        oracle_reduce,
    )
    from investigraph_etl_spark.sources.lake import HashLakeTable
    from investigraph_etl_spark.streaming.tailer import (
        change_schema,
        replay_batch,
        target_schema,
    )
    from tests.conftest import assert_pdf_equal

    events = gen_events_pandas(0, 6000, seed=9, n_docs=500, skew_frac=0.5, n_hot=1)
    lake = HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=8
    )
    sdf = spark.createDataFrame(events, schema=change_schema())
    replay_batch(sdf, lake, salt_buckets=8)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))


@pytest.mark.parametrize("command", ["tail", "export", "lookup", "settings"])
def test_cli_salt_buckets_only_with_replay(command, capsys):
    """Only the bulk replay reduces in-batch, so ``--salt-buckets`` with
    any other command is a usage error naming the flag (before any JVM
    starts)."""
    from investigraph_etl_spark.run import main

    with pytest.raises(SystemExit) as exc:
        main([command, "--lake", "unused", "--salt-buckets", "8"])
    assert exc.value.code == 2
    # the error line itself, not argparse's usage text, names the flag
    assert "error: --salt-buckets applies only to replay" in capsys.readouterr().err


def test_cli_replay_salted(spark, tmp_path):
    from investigraph_etl_spark.changelog import (
        oracle_reduce,
        read_changelog_pandas,
        write_changelog,
    )
    from investigraph_etl_spark.run import main
    from investigraph_etl_spark.sources.lake import HashLakeTable
    from tests.conftest import assert_pdf_equal

    log = str(tmp_path / "log")
    write_changelog(log, 1200, chunk_size=400, seed=22, n_docs=60)
    main(["replay", "--changelog", log, "--lake", str(tmp_path / "lake"),
          "--num-buckets", "8", "--salt-buckets", "4"])
    lake = HashLakeTable(spark, str(tmp_path / "lake"))
    assert_pdf_equal(
        lake.read().toPandas(), oracle_reduce(read_changelog_pandas(log))
    )


def test_cli_export_packed_training_shards(spark, tmp_path):
    """export --pack N --shards K: the lake's live state materialized
    as assembled training sequences with reproducible epoch positions,
    partitioned by epoch shard — lossless (total tokens preserved) and
    every non-final sequence exactly N tokens."""
    from investigraph_etl_spark.changelog import write_changelog
    from investigraph_etl_spark.run import main

    log = str(tmp_path / "log")
    write_changelog(log, 1500, chunk_size=500, seed=23, n_docs=120)
    main(["replay", "--changelog", log, "--lake", str(tmp_path / "lake"),
          "--num-buckets", "8"])
    out = str(tmp_path / "packed")
    main(["export", "--lake", str(tmp_path / "lake"), "--out", out,
          "--pack", "128", "--shards", "4", "--epoch-salt", "e1",
          "--num-buckets", "8"])
    got = spark.read.parquet(out)
    assert {"shard", "seq_id", "seq_tokens", "seq_len", "n_docs",
            "seq_key", "epoch_shard", "epoch_pos"} <= set(got.columns)
    import pyspark.sql.functions as F

    from investigraph_etl_spark.sources.lake import HashLakeTable

    lake = HashLakeTable(spark, str(tmp_path / "lake"))
    want_tok = lake.read().agg(F.sum("n_tok")).collect()[0][0]
    assert got.agg(F.sum("seq_len")).collect()[0][0] == want_tok
    # at most the final sequence per source shard is under 128 tokens
    bad = got.where("seq_len != 128").groupBy("shard").count()
    assert all(r["count"] == 1 for r in bad.collect())
    # epoch shards partition the sequences: pos is 1..count per shard
    from collections import defaultdict

    by = defaultdict(list)
    for r in got.select("epoch_shard", "epoch_pos").collect():
        by[r["epoch_shard"]].append(r["epoch_pos"])
    for poss in by.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))

"""YAML pipeline runner end-to-end (VERDICT round-1 items 5/6/10):
config-driven extract → transform → load → export reproducing the
reference's golden eu_authorities run; custom extract plug-point
mirroring /root/reference/tests/fixtures/custom.py:16-19; FtM schema
validation; per-source limit + header slugification."""

from __future__ import annotations

import json
import pathlib
import textwrap

import pytest

from investigraph_etl_spark.plans.pipeline import load_config, run_pipeline

REF = pathlib.Path("/root/reference/tests/fixtures")
CSV = REF / "all-authorities.csv"


def _write_eu_config(tmp_path: pathlib.Path) -> pathlib.Path:
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        textwrap.dedent(
            f"""
            name: eu_authorities
            prefix: eu-authorities
            extract:
              sources:
                - uri: {CSV}
                  pandas: {{multiline: true}}
            transform:
              queries:
                - entities:
                    body:
                      schema: PublicBody
                      key: URL name
                      properties:
                        name: {{column: Name}}
                        weakAlias: {{column: Short name}}
                        description: {{column: Notes}}
                        keywords: {{column: Tags, split: " "}}
                        legalForm: {{column: Tags, split: " "}}
                        website: {{column: Home page, type: url}}
                        jurisdiction: {{literal: eu}}
                        sourceUrl:
                          template: "https://www.asktheeu.org/en/body/{{{{URL name}}}}"
            load:
              uri: out/statements.parquet
            export:
              entities_uri: out/entities.ftm.json
              index_uri: out/index.json
            """
        )
    )
    return cfg


@pytest.mark.skipif(not CSV.exists(), reason="reference fixtures absent")
def test_yaml_pipeline_eu_authorities_golden(spark, tmp_path):
    cfg_path = _write_eu_config(tmp_path)
    cfg = load_config(str(cfg_path))
    assert cfg.name == "eu_authorities" and len(cfg.queries) == 1
    out = run_pipeline(spark, cfg)
    assert out["entities"] == 151  # reference golden count
    assert out["schemata"] == [{"name": "PublicBody", "count": 151}]
    # artifacts landed where the config pointed (relative → config dir)
    assert (tmp_path / "out" / "index.json").exists()
    idx = json.loads((tmp_path / "out" / "index.json").read_text())
    assert idx["entity_count"] == 151
    lines = [
        json.loads(line)
        for p in (tmp_path / "out" / "entities.ftm.json").glob("part-*")
        for line in p.read_text().splitlines()
    ]
    assert len(lines) == 151
    golden_path = REF / "eu_authorities.ftm.json"
    golden_ids = {
        json.loads(line)["id"] for line in golden_path.read_text().splitlines()
    }
    assert {e["id"] for e in lines} == golden_ids


@pytest.mark.skipif(not CSV.exists(), reason="reference fixtures absent")
def test_custom_extract_handler_through_pipeline(spark, tmp_path):
    """Mirror of the reference custom-extract fixture
    (tests/fixtures/custom.py:16-19: ``extract`` yields csv.DictReader
    rows) driven through the statement pipeline."""
    handler = tmp_path / "my_extract.py"
    handler.write_text(
        textwrap.dedent(
            f"""
            import csv

            def extract(source):
                with open({str(CSV)!r}, newline="") as fh:
                    yield from csv.DictReader(fh)
            """
        )
    )
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        textwrap.dedent(
            f"""
            name: eu_custom
            prefix: eu-authorities
            extract:
              handler: ./my_extract.py:extract
            transform:
              queries:
                - entities:
                    body:
                      schema: PublicBody
                      key: URL name
                      properties:
                        name: {{column: Name}}
            """
        )
    )
    out = run_pipeline(spark, str(cfg))
    assert out["entities"] == 151


def test_unknown_ftm_schema_rejected(tmp_path):
    from investigraph_etl_spark.functions.ftm import UnknownSchemaError
    from investigraph_etl_spark.plans.mapping import QueryMapping

    bad = {"entities": {"x": {"schema": "PubicBody", "key": "a", "properties": {}}}}
    with pytest.raises(UnknownSchemaError):
        QueryMapping.from_dict(bad)
    # lenient / custom vocabularies still available
    QueryMapping.from_dict(bad, validate=False)
    QueryMapping.from_dict(bad, extra_schemata={"PubicBody"})


@pytest.mark.skipif(not CSV.exists(), reason="reference fixtures absent")
def test_source_limit_and_slug_columns(spark):
    from investigraph_etl_spark.sources.readers import Source, read_source

    src = Source(
        uri=str(CSV),
        options={"multiline": True},
        limit=10,
        slug_columns=True,
    )
    df = read_source(spark, src)
    assert df.count() == 10
    assert "url_name" in df.columns and "short_name" in df.columns


def test_slugified_dict():
    from investigraph_etl_spark.functions.ids import slugified_dict

    assert slugified_dict({"Short name ": 1, "URL  name": 2}) == {
        "short_name": 1,
        "url_name": 2,
    }


@pytest.mark.skipif(not CSV.exists(), reason="reference fixtures absent")
def test_custom_load_and_export_handlers(spark, tmp_path):
    """Reference custom load (stage.py:86-89) / export (stage.py:92-97)
    plug-points: handlers receive the statements / entities frame and
    the config."""
    handler = tmp_path / "my_sinks.py"
    handler.write_text(
        textwrap.dedent(
            """
            def load(statements, cfg):
                # e.g. write to a bespoke sink; keep the frame flowing
                return statements.filter("prop = 'name'")

            def export(entities, cfg):
                return {"n": entities.count(), "dataset": cfg.name}
            """
        )
    )
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        textwrap.dedent(
            f"""
            name: eu_sinks
            prefix: eu-authorities
            extract:
              sources:
                - uri: {CSV}
                  pandas: {{multiline: true}}
                  limit: 30
            transform:
              queries:
                - entities:
                    body:
                      schema: PublicBody
                      key: URL name
                      properties:
                        name: {{column: Name}}
                        website: {{column: Home page, type: url}}
            load:
              handler: ./my_sinks.py:load
            export:
              handler: ./my_sinks.py:export
            """
        )
    )
    out = run_pipeline(spark, str(cfg))
    assert out["export"] == {"n": 30, "dataset": "eu_sinks"}
    # load handler filtered to name-statements only
    assert out["schemata"] == [{"name": "PublicBody", "count": 30}]
    assert out["statements"] == 30


@pytest.mark.skipif(not CSV.exists(), reason="reference fixtures absent")
def test_http_source_through_pipeline(spark, tmp_path):
    """Remote http source uri — the reference's most common deployment
    shape, exercised hermetically via a local HTTP server exactly like
    the reference test infra (/root/reference/tests/conftest.py:15-55).
    The fetch spools once (uri-addressed) and the golden 151-entity
    run must be unchanged."""
    import functools
    import http.server
    import threading

    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(CSV.parent)
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/{CSV.name}"
        from investigraph_etl_spark.sources.readers import Source, fetch_to_spool

        # spool is uri-addressed: two fetches, one local file
        spool_dir = tmp_path / "spool"
        p1 = fetch_to_spool(url, cache_dir=str(spool_dir))
        p2 = fetch_to_spool(url, cache_dir=str(spool_dir))
        assert p1 == p2 and pathlib.Path(p1).read_bytes() == CSV.read_bytes()

        src = Source(uri=url, options={"multiline": True})
        assert src.name == CSV.stem  # name derives from the url path
        cfg_path = tmp_path / "config.yml"
        cfg_path.write_text(
            _write_eu_config(tmp_path).read_text().replace(str(CSV), url)
        )
        out = run_pipeline(spark, load_config(str(cfg_path)))
        assert out["entities"] == 151
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.mark.skipif(not CSV.exists(), reason="reference fixtures absent")
def test_inspect_cli_and_run_timings(spark, tmp_path, capsys):
    """``inspect`` previews resolved config + first records/statements
    without writing anything (reference cli.py:178-187); ``run``
    returns per-stage wall-clock timings (reference WorkflowRun,
    pipeline.py:14-24)."""
    from investigraph_etl_spark.plans.pipeline import inspect_pipeline
    from investigraph_etl_spark.run import main

    cfg_path = _write_eu_config(tmp_path)
    preview = inspect_pipeline(spark, str(cfg_path), n=5)
    assert preview["dataset"] == "eu_authorities"
    assert len(preview["records"]) == 5
    assert 0 < len(preview["statements"]) <= 5
    assert {"id", "schema", "prop", "value"} <= set(preview["statements"][0])
    # nothing written by inspect
    assert not (tmp_path / "out").exists()

    main(["inspect", "-c", str(cfg_path), "-n", "3"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dataset"] == "eu_authorities" and len(out["records"]) == 3

    from investigraph_etl_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, str(cfg_path))
    t = res["timings"]
    assert {"extract", "transform", "load", "export", "stats", "total"} <= set(t)
    assert t["total"] >= max(t["extract"], t["export"])


def test_fetch_to_spool_concurrent_threads(tmp_path):
    """Round-4 (ADVICE r3): the spool temp name carries a uuid so two
    threads in ONE process fetching the same uri cannot clobber each
    other's partial file; every thread converges on one complete spool
    entry.  Also pins the socket-timeout plumbing (urlopen path)."""
    import functools
    import http.server
    import threading

    from investigraph_etl_spark.sources.readers import fetch_to_spool

    body = b"x" * 300_000  # big enough to span several chunks
    payload = tmp_path / "payload.bin"
    payload.write_bytes(body)
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(tmp_path)
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/payload.bin"
        spool = tmp_path / "spool"
        results: list[str] = []
        errors: list[Exception] = []

        def fetch():
            try:
                results.append(
                    fetch_to_spool(url, cache_dir=str(spool), timeout=30)
                )
            except Exception as e:  # pragma: no cover
                errors.append(e)

        threads = [threading.Thread(target=fetch) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        assert len(set(results)) == 1
        assert pathlib.Path(results[0]).read_bytes() == body
        # no leftover .part files
        assert not list(spool.glob("*.part.*"))
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.mark.skipif(not CSV.exists(), reason="reference fixtures absent")
def test_stage_pipe_cli_chain(spark, tmp_path, capsys):
    """Round-4 (VERDICT r3 missing #1/#2): the composable per-stage
    pipe surface — ``seed | extract --from-stdin | transform | load``
    over line-JSON, mirroring the reference CLI stage commands
    (reference cli.py:82-176) — reproduces the golden run's statement
    set end-to-end."""
    from investigraph_etl_spark.run import main

    cfg = str(_write_eu_config(tmp_path))
    seeds = tmp_path / "seeds.jsonl"
    records = tmp_path / "records.jsonl"
    stmts = tmp_path / "stmts.jsonl"

    main(["seed", "-c", cfg, "-o", str(seeds)])
    seed_rows = [json.loads(l) for l in seeds.read_text().splitlines()]
    assert len(seed_rows) == 1 and seed_rows[0]["uri"] == str(CSV)

    main(["extract", "-c", cfg, "--from-stdin", "-i", str(seeds),
          "-o", str(records)])
    rec_rows = records.read_text().splitlines()
    # multiline-quoted CSV: logical records, same count as the API path
    from investigraph_etl_spark.plans.pipeline import extract_records

    assert len(rec_rows) == extract_records(spark, load_config(cfg)).count()

    main(["transform", "-c", cfg, "-i", str(records), "-o", str(stmts)])
    stmt_rows = [json.loads(l) for l in stmts.read_text().splitlines()]
    assert len(stmt_rows) > len(rec_rows)  # several statements per record

    capsys.readouterr()
    main(["load", "-c", cfg, "-i", str(stmts)])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["statements"] == len(stmt_rows)
    # the piped chain lands the same distinct-entity set as the golden
    # single-plan run (151 merged entities)
    loaded = spark.read.parquet(out["uri"])
    assert loaded.select("id").distinct().count() == 151

    # seed -l limit and extract -s name filter
    main(["seed", "-c", cfg, "-l", "0", "-o", str(seeds)])
    assert seeds.read_text().strip() == ""


def _write_people_config(tmp_path: pathlib.Path) -> str:
    """A self-contained stage fixture: a 5-row CSV with a duplicate key
    (p1), a playbook op that drops one row (p3), a ``record_limit``
    that cuts the last (p4), and a load handler writing the statements
    it receives to ``<config dir>/loaded``."""
    (tmp_path / "people.csv").write_text(
        "id,name,country\n"
        "p1,Alice,de\n"
        "p2,Bob,fr\n"
        "p1,Alicia,de\n"
        "p3,Carol,xx\n"
        "p4,Dan,it\n"
    )
    (tmp_path / "sinks.py").write_text(
        textwrap.dedent(
            """
            import pathlib

            def load(statements, cfg):
                out = pathlib.Path(cfg.base_path) / "loaded"
                statements.write.mode("overwrite").parquet(str(out))
            """
        )
    )
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        textwrap.dedent(
            """
            name: people
            prefix: ppl
            record_limit: 3
            extract:
              sources:
                - uri: people.csv
                  pandas:
                    operations:
                      - handler: DataFrame.query
                        options: {expr: "country != 'xx'"}
            transform:
              queries:
                - entities:
                    person:
                      schema: Person
                      key: id
                      properties:
                        name: {column: name}
                        country: {column: country}
            load:
              handler: ./sinks.py:load
            """
        )
    )
    return str(cfg)


def _sorted_json(rows) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def _jsonl(path: pathlib.Path) -> list[dict]:
    return [json.loads(line) for line in path.read_text().splitlines()]


def _loaded_rows(spark, tmp_path: pathlib.Path) -> list[str]:
    rows = spark.read.parquet(str(tmp_path / "loaded")).collect()
    return _sorted_json(r.asDict() for r in rows)


def test_stage_pipe_matches_run(spark, tmp_path):
    """``seed | extract --from-stdin | transform | load`` lands the same
    statement rows as ``run_pipeline`` on the same config: the playbook
    op, ``record_limit`` and the load handler act on both paths."""
    import shutil

    from investigraph_etl_spark.plans.pipeline import extract_records
    from investigraph_etl_spark.run import main

    cfg = _write_people_config(tmp_path)
    out = run_pipeline(spark, cfg)
    assert out["entities"] == 2 and out["statements"] == 6
    want = _loaded_rows(spark, tmp_path)
    shutil.rmtree(tmp_path / "loaded")

    seeds, records, stmts = (
        tmp_path / "seeds.jsonl", tmp_path / "records.jsonl",
        tmp_path / "stmts.jsonl",
    )
    main(["seed", "-c", cfg, "-o", str(seeds)])
    main(["extract", "-c", cfg, "--from-stdin", "-i", str(seeds),
          "-o", str(records)])
    expected = extract_records(spark, load_config(cfg)).collect()
    assert _sorted_json(_jsonl(records)) == _sorted_json(
        r.asDict() for r in expected
    )
    assert sorted(r["name"] for r in _jsonl(records)) == [
        "Alice", "Alicia", "Bob"
    ]
    main(["transform", "-c", cfg, "-i", str(records), "-o", str(stmts)])
    main(["load", "-c", cfg, "-i", str(stmts)])
    assert _loaded_rows(spark, tmp_path) == want
    names = sorted(
        (r["id"], r["value"])
        for r in map(json.loads, want)
        if r["prop"] == "name"
    )
    assert [v for _, v in names] == ["Alice", "Alicia", "Bob"]
    assert len({i for i, _ in names}) == 2  # p1's two rows: one entity


def test_extract_config_and_source_filter_match_extract_records(
    spark, tmp_path
):
    """``extract -c`` and ``extract -s <name>`` emit exactly the
    records ``extract_records`` builds."""
    from investigraph_etl_spark.plans.pipeline import extract_records
    from investigraph_etl_spark.run import main

    cfg = _write_people_config(tmp_path)
    want = _sorted_json(
        r.asDict() for r in extract_records(spark, load_config(cfg)).collect()
    )
    assert len(want) == 3
    out = tmp_path / "records.jsonl"
    main(["extract", "-c", cfg, "-o", str(out)])
    assert _sorted_json(_jsonl(out)) == want
    main(["extract", "-c", cfg, "-s", "people", "-o", str(out)])
    assert _sorted_json(_jsonl(out)) == want


def test_seed_prints_every_source_field(tmp_path):
    """``seed`` prints each resolved source whole (operations
    included), so ``extract --from-stdin`` rebuilds the same Source;
    ``-l 0`` prints none."""
    import dataclasses

    from investigraph_etl_spark.run import main

    cfg = _write_people_config(tmp_path)
    seeds = tmp_path / "seeds.jsonl"
    main(["seed", "-c", cfg, "-o", str(seeds)])
    (src,) = load_config(cfg).sources
    assert _jsonl(seeds) == [dataclasses.asdict(src)]
    assert _jsonl(seeds)[0]["operations"][0]["handler"] == "DataFrame.query"
    main(["seed", "-c", cfg, "-l", "0", "-o", str(seeds)])
    assert seeds.read_text().strip() == ""


def test_load_command_calls_configured_handler(spark, tmp_path, capsys):
    """A config with only ``load: {handler: …}`` loads through the
    handler, as ``run`` does."""
    from investigraph_etl_spark.run import main

    cfg = _write_people_config(tmp_path)
    rows = [
        {"id": "ppl-a", "schema": "Person", "prop": "name",
         "value": "Ada", "dataset": "people"},
        {"id": "ppl-b", "schema": "Person", "prop": "name",
         "value": "Grace", "dataset": "people"},
    ]
    stmts = tmp_path / "stmts.jsonl"
    stmts.write_text("\n".join(json.dumps(r) for r in rows))
    capsys.readouterr()
    main(["load", "-c", cfg, "-i", str(stmts)])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"statements": 2, "uri": None}
    assert _loaded_rows(spark, tmp_path) == _sorted_json(rows)


def test_stage_pipe_keeps_all_null_column_and_loads_empty_input(
    spark, tmp_path, capsys
):
    """A mapped column that is empty in every record still reaches
    ``transform`` through the pipe, so the pipe loads what ``run``
    loads; and ``load`` on an empty input writes 0 statements."""
    import shutil

    from investigraph_etl_spark.run import main

    (tmp_path / "people.csv").write_text("id,name,alias\np1,Alice,\np2,Bob,\n")
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        textwrap.dedent(
            """
            name: people
            prefix: ppl
            extract:
              sources:
                - uri: people.csv
            transform:
              queries:
                - entities:
                    person:
                      schema: Person
                      key: id
                      properties:
                        name: {column: name}
                        alias: {column: alias}
            load:
              uri: loaded
            """
        )
    )
    cfg = str(cfg)
    out = run_pipeline(spark, cfg)
    assert out["entities"] == 2
    loaded = tmp_path / "loaded"
    want = _loaded_rows(spark, tmp_path)
    shutil.rmtree(loaded)

    seeds, records, stmts = (
        tmp_path / "seeds.jsonl", tmp_path / "records.jsonl",
        tmp_path / "stmts.jsonl",
    )
    main(["seed", "-c", cfg, "-o", str(seeds)])
    main(["extract", "-c", cfg, "--from-stdin", "-i", str(seeds),
          "-o", str(records)])
    assert [r["alias"] for r in _jsonl(records)] == [None, None]
    main(["transform", "-c", cfg, "-i", str(records), "-o", str(stmts)])
    main(["load", "-c", cfg, "-i", str(stmts)])
    assert _loaded_rows(spark, tmp_path) == want

    empty = tmp_path / "empty.jsonl"
    empty.write_text("")
    capsys.readouterr()
    main(["load", "-c", cfg, "-i", str(empty)])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"statements": 0, "uri": str(loaded)}
    assert spark.read.parquet(str(loaded)).count() == 0


def test_settings_cli(capsys):
    """reference `investigraph settings` parity (cli.py:188-196)."""
    from investigraph_etl_spark.run import main

    main(["settings"])
    out = json.loads(capsys.readouterr().out.strip())
    assert out["engine"] == "investigraph_etl_spark"
    assert "env" in out

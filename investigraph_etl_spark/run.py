"""spark-submit entry point (north star: ``spark-submit --py-files``).

    spark-submit --py-files investigraph_etl_spark.zip \
        -m investigraph_etl_spark.run tail \
        --changelog /data/binlog --lake /data/lake --checkpoint /ckpt

Subcommands:
  ``run``     — full YAML-config pipeline: extract → transform →
                load → export (the reference's ``investigraph run -c``)
  ``inspect`` — preview resolved config + first N records/statements
                without running (the reference's ``investigraph
                inspect``, cli.py:178-187)
  ``seed``    — print the pipeline's resolved sources as JSON lines
                (the reference's ``investigraph seed``, cli.py:82-99)
  ``extract`` / ``transform`` / ``load`` — composable per-stage pipe
                surface over line-JSON stdin/stdout (the reference's
                GNU-parallel stage commands, cli.py:102-176 and
                docs/run/parallelization.md):
                ``seed -c cfg | extract --from-stdin -c cfg |
                transform -c cfg | load -c cfg``.  Each stage command
                calls the same function ``run`` does
                (plans/pipeline.py: ``resolve_sources``,
                ``extract_records``, ``transform_statements``,
                ``load_statements``), so the pipe and ``run`` give the
                same statements — playbook operations,
                ``record_limit`` and custom handlers included.
                Deliberate scope:
                the pipe surface exists for reference-parity scripting
                of moderate data; at lake scale the SAME stages run as
                one Spark plan (``run``) or as the streaming tailer —
                parallelism comes from the cluster, not GNU parallel.
  ``settings``— dump effective engine settings as JSON (the
                reference's ``investigraph settings``, cli.py:188-196)
  ``replay``  — batch replay of a changelog directory into the lake
  ``tail``    — streaming tailer (``--follow`` keeps running;
                default drains available files and exits)
  ``export``  — dump the lake's live state as parquet
                (``--version`` time-travels to a retained snapshot)
  ``lookup``  — bucket-pruned point fetch of ``--keys`` as JSON lines
  ``changes`` — net change feed between two snapshots
                (``--from-version``/``--to-version``) as parquet
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

from investigraph_etl_spark.session import default_master, get_spark
from investigraph_etl_spark.sources.lake import HashLakeTable
from investigraph_etl_spark.streaming.tailer import (
    change_schema,
    replay_batch,
    tail_changelog,
    target_schema,
)


def _open_out(uri: str):
    import contextlib
    import sys

    if uri in ("-", None):
        return contextlib.nullcontext(sys.stdout)
    return open(uri, "w")


def _read_lines(uri: str) -> list[str]:
    import sys

    fh = sys.stdin if uri in ("-", None) else open(uri)
    try:
        return [ln for ln in (l.strip() for l in fh) if ln]
    finally:
        if fh is not sys.stdin:
            fh.close()


def _json_lines_df(spark, lines: list[str]):
    """Line-JSON → DataFrame (schema inferred across the batch — the
    pipe surface is bounded by contract, see module docstring)."""
    return spark.read.json(spark.sparkContext.parallelize(lines or ["{}"], 8))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="investigraph_etl_spark")
    p.add_argument(
        "command",
        choices=[
            "run", "inspect", "seed", "extract", "transform", "load",
            "settings", "replay", "tail", "export", "lookup", "changes",
        ],
    )
    p.add_argument("-c", "--config", help="pipeline YAML (run/inspect/stages)")
    p.add_argument("-l", "--limit", type=int, help="record limit (run)")
    p.add_argument(
        "-o", "--out-uri", default="-",
        help="stage output: file path or '-' for stdout (seed/extract/"
        "transform)",
    )
    p.add_argument(
        "-i", "--in-uri", default="-",
        help="stage input: file path or '-' for stdin (transform/load)",
    )
    p.add_argument(
        "--from-stdin", action="store_true",
        help="extract: read seed JSON lines from stdin instead of the "
        "config's sources",
    )
    p.add_argument(
        "-s", "--source", default=None,
        help="extract: only this source name",
    )
    p.add_argument(
        "-n", "--preview", type=int, default=10,
        help="rows to preview per stage (inspect)",
    )
    p.add_argument("--changelog", help="binlog/WAL directory (parquet chunks)")
    p.add_argument("--lake", help="lake table root")
    p.add_argument("--checkpoint", help="streaming checkpoint dir (tail)")
    p.add_argument("--out", help="output dir (export)")
    p.add_argument(
        "--version", type=int, default=None,
        help="time-travel: export the table as of this version "
        "(any manifest vacuum still retains)",
    )
    p.add_argument(
        "--keys", help="comma-separated keys (lookup): bucket-pruned fetch"
    )
    p.add_argument(
        "--from-version", type=int, default=None,
        help="change feed start snapshot (changes; exclusive)",
    )
    p.add_argument(
        "--to-version", type=int, default=None,
        help="change feed end snapshot (changes; default: latest)",
    )
    p.add_argument("--master", default=None)
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--with-lang", action="store_true")
    p.add_argument("--follow", action="store_true")
    p.add_argument("--salt-buckets", type=int, default=0, help="replay: salt the LWW")
    p.add_argument("--max-files-per-trigger", type=int, default=16)
    p.add_argument("--metrics", help="metrics JSONL path")
    p.add_argument(
        "--pack", type=int, default=None, metavar="MAX_LEN",
        help="export: pack token streams into MAX_LEN training "
        "sequences (concat-then-chop per source shard) and write one "
        "row per packed sequence instead of raw table rows",
    )
    p.add_argument(
        "--shards", type=int, default=None, metavar="N",
        help="export with --pack: assign each packed sequence a "
        "reproducible epoch position over N shards (md5 epoch "
        "shuffle, no global sort); output partitioned by shard",
    )
    p.add_argument(
        "--epoch-salt", default="ep0",
        help="epoch identity for --shards (a new salt is a new "
        "reproducible order)",
    )
    args = p.parse_args(argv)
    if args.salt_buckets and args.command != "replay":  # only replay reduces
        p.error(f"--salt-buckets applies only to replay, not {args.command}")

    # Spark-free commands first — a seed listing or settings dump must
    # not pay (or require) a JVM.
    if args.command == "settings":
        # reference `investigraph settings` (cli.py:188-196): dump the
        # effective runtime configuration
        import os

        env = {
            k: v
            for k, v in sorted(os.environ.items())
            if k.startswith(("SPARK_GRAFT_", "INVESTIGRAPH_"))
        }
        with _open_out(args.out_uri) as fh:
            print(
                json.dumps(
                    {
                        "engine": "investigraph_etl_spark",
                        "master": args.master or default_master(),
                        "num_buckets": args.num_buckets,
                        "env": env,
                    }
                ),
                file=fh,
            )
        return

    if args.command == "seed":
        # reference `investigraph seed` (cli.py:82-99): resolve and
        # print the pipeline's sources, one JSON line each, for piping
        # into `extract --from-stdin`
        import dataclasses

        from investigraph_etl_spark.plans.pipeline import (
            load_config,
            resolve_sources,
        )

        if not args.config:
            p.error("seed requires -c/--config")
        sources = resolve_sources(load_config(args.config))
        if args.limit is not None:
            sources = sources[: args.limit]
        with _open_out(args.out_uri) as fh:
            for s in sources:
                print(json.dumps(dataclasses.asdict(s)), file=fh)
        return

    spark = get_spark("investigraph_etl_spark", master=args.master)

    if args.command == "extract":
        # reference `investigraph extract` (cli.py:102-140): records as
        # JSON lines, from the config's sources or seed lines on stdin
        from investigraph_etl_spark.plans.pipeline import (
            extract_records,
            load_config,
            resolve_sources,
        )

        if not args.config:
            p.error("extract requires -c/--config")
        cfg = load_config(args.config)
        seeds = None
        if args.from_stdin:
            seeds = [json.loads(ln) for ln in _read_lines(args.in_uri)]
        sources = resolve_sources(cfg, seeds)
        if args.source is not None:
            sources = [s for s in sources if s.name == args.source]
        df = extract_records(spark, cfg, sources=sources)
        if args.limit is not None:
            df = df.limit(args.limit)
        # null fields stay in each line: a column that is null in every
        # record must still reach transform's inferred schema
        lines = df.select(
            F.to_json(F.struct("*"), {"ignoreNullFields": "false"})
        )
        with _open_out(args.out_uri) as fh:
            for (line,) in lines.toLocalIterator():
                print(line, file=fh)
        return

    if args.command == "transform":
        # reference `investigraph transform` (cli.py:143-160): records
        # in (line-JSON), statement fragments out (line-JSON)
        from investigraph_etl_spark.plans.pipeline import (
            load_config,
            transform_statements,
        )

        if not args.config:
            p.error("transform requires -c/--config")
        cfg = load_config(args.config)
        records = _json_lines_df(spark, _read_lines(args.in_uri))
        statements = transform_statements(records, cfg)
        with _open_out(args.out_uri) as fh:
            for line in statements.toJSON().toLocalIterator():
                print(line, file=fh)
        return

    if args.command == "load":
        # reference `investigraph load` (cli.py:163-175): statements in
        # (line-JSON), merged into the configured statement sink
        from investigraph_etl_spark.plans.custom import STATEMENT_SCHEMA
        from investigraph_etl_spark.plans.pipeline import (
            load_config,
            load_statements,
        )

        if not args.config:
            p.error("load requires -c/--config")
        cfg = load_config(args.config)
        dest = cfg.load_uri if args.out_uri in ("-", None) else args.out_uri
        if not (cfg.load_handler or dest):
            p.error(
                "load requires a load.handler or load.uri in the config, "
                "or -o/--out-uri"
            )
        statements = spark.read.schema(STATEMENT_SCHEMA).json(
            spark.sparkContext.parallelize(_read_lines(args.in_uri), 8)
        )
        loaded = load_statements(spark, statements, cfg, uri=dest)
        print(
            json.dumps(
                {
                    "statements": loaded.count(),
                    "uri": None if cfg.load_handler else dest,
                }
            )
        )
        return

    if args.command == "run":
        from investigraph_etl_spark.plans.pipeline import run_pipeline

        if not args.config:
            p.error("run requires -c/--config")
        print(json.dumps(run_pipeline(spark, args.config, limit=args.limit)))
        return

    if args.command == "inspect":
        from investigraph_etl_spark.plans.pipeline import inspect_pipeline

        if not args.config:
            p.error("inspect requires -c/--config")
        print(json.dumps(inspect_pipeline(spark, args.config, n=args.preview)))
        return

    if not args.lake:
        p.error(f"{args.command} requires --lake")
    lake = HashLakeTable.create(
        spark,
        args.lake,
        target_schema(args.with_lang),
        num_buckets=args.num_buckets,
    )

    if args.command == "replay":
        events = spark.read.schema(change_schema(args.with_lang)).parquet(
            args.changelog
        )
        stats = replay_batch(
            events,
            lake,
            batch_id=lake.last_committed() + 1,
            salt_buckets=args.salt_buckets,
        )
        print(json.dumps(stats))
    elif args.command == "tail":
        q = tail_changelog(
            spark,
            args.changelog,
            lake,
            args.checkpoint,
            with_lang=args.with_lang,
            max_files_per_trigger=args.max_files_per_trigger,
            metrics_path=args.metrics,
            available_now=not args.follow,
        )
        q.awaitTermination()
    elif args.command == "export":
        df = lake.read(version=args.version)
        if args.pack:
            # lake → assembled training sequences; with --shards, each
            # sequence additionally gets its reproducible epoch
            # position and the output is partitioned by shard so a
            # trainer streams shard dirs in (shard, pos) order — the
            # product surface of the training_shards composition
            # (operators/packing.py + operators/sampling.py)
            from investigraph_etl_spark.operators.packing import pack_sequences
            from investigraph_etl_spark.operators.sampling import shuffle_shards

            df = pack_sequences(df, max_len=args.pack, assemble=True)
            if args.shards:
                df = shuffle_shards(
                    df.withColumn(
                        "seq_key", F.concat_ws(":", "shard", "seq_id")
                    ),
                    key_col="seq_key",
                    n_shards=args.shards,
                    salt=args.epoch_salt,
                    shard_col="epoch_shard",
                    pos_col="epoch_pos",
                )
                df.write.mode("overwrite").partitionBy("epoch_shard").parquet(
                    args.out
                )
            else:
                df.write.mode("overwrite").parquet(args.out)
        else:
            df.write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {"rows": df.count(), "out": args.out, "version": args.version,
                 "packed": bool(args.pack), "epoch_shards": args.shards}
            )
        )
    elif args.command == "lookup":
        if not args.keys:
            p.error("lookup requires --keys")
        rows = lake.read_keys(args.keys.split(",")).toJSON().collect()
        for r in rows:
            print(r)
    elif args.command == "changes":
        if args.from_version is None or not args.out:
            p.error("changes requires --from-version and --out")
        df = lake.read_changes(args.from_version, args.to_version)
        df.write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {
                    "rows": df.count(),
                    "out": args.out,
                    "from_version": args.from_version,
                    "to_version": args.to_version
                    if args.to_version is not None
                    else lake.version,
                }
            )
        )


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""spark-submit entrypoint for the logzilla-spark pipeline.

The reference ships two binaries — an ingest engine driven by a YAML
config (reference: cmd/engine/main.go) and a query server
(reference: cmd/server/main.go). The Spark-native equivalent is one
thin driver script submitted to a cluster with the package zip:

    python scripts/package.py                       # -> dist/logzilla_spark.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/logzilla_spark.zip \
        main.py --warehouse /path/to/warehouse \
                [--ingest /path/to/pages.parquet] \
                [--dims /dir/with/dim_{lang,severity}.parquet] \
                [--parse-impl arrow] [--run-id RUN]

Each invocation performs ONE incremental checkpoint-resume run of the
parse -> enrich -> route -> aggregate pipeline over the warehouse's
`pages` table (plans/pipeline.py): it rolls back any un-checkpointed
commits from a previously crashed run, processes only the pages delta
committed since the last checkpoint, and prints a one-line JSON run
report. Re-running after a crash is always safe (idempotent end state
— tested in tests/test_pipeline_resume.py).

The session master/memory/parallelism come from spark-submit; only the
engine's SQL confs (AQE, Arrow, UTC timezone, codegen cache size) are
applied here, on the session builder, so the identical script runs on
local[N] and on a 1000-executor cluster.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--config", default=None,
                   help="pipeline config file (.toml/.json; .yaml with a yaml "
                        "module) — the reference's YAML-driven assembly "
                        "(config/config.go). Replaces the flags below.")
    p.add_argument("--warehouse", default=None,
                   help="catalog warehouse directory (sinks, aggs, metrics, checkpoints)")
    p.add_argument("--ingest", default=None,
                   help="optional pages parquet path to append to the pages table "
                        "before running (columns: url, warc_ts, html, text, lang)")
    p.add_argument("--dims", default=None,
                   help="optional dir containing dim_lang.parquet / dim_severity.parquet; "
                        "enables the broadcast enrich stage")
    p.add_argument("--parse-impl", default="hybrid",
                   choices=("arrow", "native", "hybrid"),
                   help="parse stage implementation (hybrid = codegen grok + "
                        "JSON-only Arrow UDF; arrow = all-Python spec-exact UDF)")
    p.add_argument("--run-id", default=None, help="run id for lineage/metrics rows")
    p.add_argument("--tail", default=None, metavar="LOGS_DIR",
                   help="instead of a pipeline run, stream RAW LOG FILES from "
                        "this directory through the parser chain into the "
                        "warehouse's routed sinks (the reference's operating "
                        "loop on its native input; availableNow drain — "
                        "re-invoking resumes from the checkpoint)")
    p.add_argument("--chain", default="access,json",
                   help="parser chain for --tail (registry names, comma list)")
    p.add_argument("--shuffle-partitions", type=int, default=None,
                   help="override spark.sql.shuffle.partitions (default: leave "
                        "submit-conf/AQE in charge)")
    p.add_argument("--record", nargs=2, default=None,
                   metavar=("START", "END"),
                   help="evaluate the config-declared [[recordings]] rules "
                        "over the RFC3339 window and merge each matrix into "
                        "its committed rec_<name> table")
    p.add_argument("--serve", type=int, default=None, metavar="PORT",
                   help="instead of running the pipeline, serve the query API "
                        "(POST /api/logs/search, GET /healthcheck) over the "
                        "warehouse's routed sinks — the reference's second "
                        "binary (cmd/server/main.go)")
    p.add_argument("--tls-cert", default=None,
                   help="TLS certificate file; with --tls-key switches the "
                        "listener to TLS (api/server.go:57-64)")
    p.add_argument("--tls-key", default=None, help="TLS private key file")
    p.add_argument("--cors-origin", action="append", default=[],
                   help="trusted CORS origin, repeatable "
                        "(api/middleware.go:18-40)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    from logzilla_spark.plans.pipeline import Pipeline
    from logzilla_spark.session import engine_sql_confs
    from logzilla_spark.sources.catalog import LocalCatalog

    spark = (
        SparkSession.builder.appName("logzilla-spark")
        .config(map=engine_sql_confs(args.shuffle_partitions))
        .getOrCreate()
    )
    cfg = None
    if args.config:
        from logzilla_spark.config import build_pipeline, load_config

        cfg = load_config(args.config)
        pipe = build_pipeline(spark, cfg)
        # config-declared file source (the reference's YAML file
        # source) -> run the tail-follow loop with the config's chain
        if args.tail is None and cfg.logs_dir:
            args.tail = cfg.logs_dir
            if cfg.chain:
                args.chain = ",".join(cfg.chain)
    else:
        if not args.warehouse:
            build_arg_parser().error("--warehouse (or --config) is required")
        cat = LocalCatalog(args.warehouse)
        pipe = Pipeline(spark, cat, parse_impl=args.parse_impl)

        if args.dims:
            pipe.set_dims(
                spark.read.parquet(f"{args.dims}/dim_lang.parquet"),
                spark.read.parquet(f"{args.dims}/dim_severity.parquet"),
            )
        if args.ingest:
            pipe.ingest_pages(spark.read.parquet(args.ingest))

    if args.tail is not None:
        import os

        from logzilla_spark.streaming import start_logfile_routing_stream

        chain = tuple(c.strip() for c in args.chain.split(",") if c.strip())
        ckpt = os.path.join(pipe.cat.warehouse, "_checkpoints", "route_logs")
        q = start_logfile_routing_stream(
            spark, args.tail, pipe.cat.warehouse, ckpt, chain=chain,
        )
        q.awaitTermination()
        # config-declared alert rules: run the alert stream over the
        # same source/chain (own checkpoint; exactly-once ledger)
        if cfg is not None:
            from logzilla_spark.config import configured_alert_rules

            rules = configured_alert_rules(cfg)
        else:
            rules = []
        n_alerts = 0
        if rules:
            from logzilla_spark.sources.catalog import LocalCatalog
            from logzilla_spark.streaming.alerts import (
                start_logfile_alert_stream,
            )

            qa = start_logfile_alert_stream(
                spark, args.tail, pipe.cat.warehouse,
                os.path.join(pipe.cat.warehouse, "_checkpoints", "alert_logs"),
                rules, chain=chain,
            )
            qa.awaitTermination()
            n_alerts = LocalCatalog(pipe.cat.warehouse).read(
                spark, "stream_alerts"
            ).count()
        print(json.dumps({
            "tailed": args.tail,
            "warehouse": pipe.cat.warehouse,
            "alert_rules": len(rules),
            "alerts_total": n_alerts,
        }))
        return 0

    if args.record is not None:
        from datetime import datetime

        from logzilla_spark.operators.route import read_all_sinks
        from logzilla_spark.streaming.recordings import (
            record_rule_window,
            recording_rules_from_config,
        )

        rules = recording_rules_from_config(cfg) if cfg is not None else []
        if not rules:
            build_arg_parser().error("--record needs [[recordings]] in --config")
        def _ts(v: str) -> datetime:
            from datetime import timezone

            d = datetime.fromisoformat(v.replace("Z", "+00:00"))
            # convert aware instants to UTC-naive, never strip offsets
            return (
                d.astimezone(timezone.utc).replace(tzinfo=None)
                if d.tzinfo is not None else d
            )

        start, end = _ts(args.record[0]), _ts(args.record[1])
        # the recording cycle: process any ingested delta first (no-op
        # when the warehouse is current), then evaluate over the sinks
        pipe.run(run_id=args.run_id)
        records = read_all_sinks(spark, pipe.cat, pipe.categories)
        out = {
            r.name: record_rule_window(spark, pipe.cat, records, r, start, end)
            for r in rules
        }
        print(json.dumps({"recorded": out, "window": args.record}))
        return 0

    if args.serve is not None:
        from logzilla_spark.operators.route import read_all_sinks
        from logzilla_spark.server import make_server

        records = read_all_sinks(spark, pipe.cat, pipe.categories)
        # serve the alert ledger too when an alert stream has committed
        # one into this warehouse (POST /api/alerts; absent -> the
        # route answers with a client envelope error)
        alerts = (
            pipe.cat.read(spark, "stream_alerts")
            if pipe.cat.exists("stream_alerts")
            else None
        )
        srv = make_server(
            records, host="0.0.0.0", port=args.serve,
            cert_file=args.tls_cert, key_file=args.tls_key,
            trusted_origins=tuple(args.cors_origin),
            alerts=alerts,
            recordings=pipe.cat,  # {"rule": ...} query_range bodies
            tail=(pipe.cat, spark),  # POST /api/logs/tail cursor polls
        )
        print(json.dumps({"serving": list(srv.server_address)}), flush=True)
        srv.serve_forever()
        return 0

    report = pipe.run(run_id=args.run_id)
    print(json.dumps({
        "run_id": report.run_id,
        "input_snapshot_id": report.input_snapshot_id,
        "rows_in": report.rows_in,
        "rows_routed": report.rows_routed,
        "resumed_rollbacks": report.resumed_rollbacks,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

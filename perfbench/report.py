"""Per-layer metrics of the traced run, and the metric envelope of the result.

Every metric name and unit comes from ``BENCHMARK.json``; a run prints
all metrics of its section, on every workload. A layer the workload
does not run reports 0 (for example the ``operators.dedup`` metrics on
``ingest``).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from perfbench import trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# layers whose self time is reported as self_s.<layer>
LAYERS = (
    "unit", "plans.pipeline", "sources.catalog", "operators.parse", "operators.enrich",
    "operators.route", "operators.aggregate", "server", "api", "operators.query",
    "operators.dsl", "operators.range_query", "operators.dedup", "operators.cluster",
    "operators.similarity", "functions.lineage",
)
REQUEST_KINDS = ("search", "page2", "dsl", "facets", "range")


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def as_metrics(values: dict, section: str) -> dict:
    """``{name: {"value", "unit"}}`` for exactly the section's metrics."""
    spec = benchmark_spec()[section]
    names = {m["name"] for m in spec}
    if set(values) != names:
        raise KeyError(f"{section}: missing {sorted(names - set(values))}, "
                       f"unknown {sorted(set(values) - names)}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# -- patches -----------------------------------------------------------------

def _route_counters(span, snaps, args) -> None:
    from logzilla_spark.operators.route import sink_name

    cat = args[1]
    files = [f for c, sid in snaps.items() for f in cat._groups(sink_name(c), sid)[-1]["files"]]
    span.counters["files"] = len(files)
    span.counters["bytes"] = sum(os.path.getsize(f) for f in files)


def install_patches(tracer: trace.Tracer, workload: str) -> None:
    """Wrap the public functions each layer exposes, under the names the
    calling module bound them to."""
    if workload == "ingest":
        from logzilla_spark import api, server
        from logzilla_spark.operators import query, range_query
        from logzilla_spark.plans import pipeline
        from logzilla_spark.sources.catalog import LocalCatalog

        tracer.patch(pipeline, "parse_records", "operators.parse")
        tracer.patch(pipeline, "enrich_records", "operators.enrich")
        tracer.patch(pipeline, "route_to_sinks_single_pass", "operators.route",
                     after=_route_counters)
        tracer.patch(pipeline, "windowed_counts", "operators.aggregate")
        tracer.patch(LocalCatalog, "_commit", "sources.catalog", "commit")
        tracer.patch(LocalCatalog, "read", "sources.catalog", "read")
        tracer.patch(LocalCatalog, "read_incremental", "sources.catalog", "read")
        tracer.patch(
            LocalCatalog, "overwrite",
            lambda a: "operators.aggregate" if str(a[2]).startswith("agg_") else "sources.catalog",
            "overwrite")
        tracer.patch(server, "search_request", "api", "search")
        tracer.patch(api, "facets_request", "api", "facets")
        tracer.patch(api, "query_range_request", "api", "range")
        tracer.patch(api, "search", "operators.query")
        tracer.patch(query, "search_facets", "operators.query")
        tracer.patch(api, "parse_dsl_query", "operators.dsl")
        tracer.patch(range_query, "range_query", "operators.range_query")
    else:
        from logzilla_spark.operators import cluster, dedup

        tracer.patch(dedup, "minhash_lsh_pairs", "operators.dedup")
        tracer.patch(cluster, "connected_components", "operators.cluster")
        tracer.patch(cluster, "_truncate", "functions.lineage", "truncate")


# -- metrics -----------------------------------------------------------------

def _warm_units(tracer):
    """Root spans of the traced warm units (the first, cold unit excluded)."""
    roots = sorted((s for s in tracer.spans if s.layer == "unit"), key=lambda s: s.start)
    return roots[1:]


def _parse_probe(spark, delta: str, dims_dir: str, repeats: int = 3) -> dict:
    """Parse and parse+enrich of one delta, each ended by a noop write."""
    import time

    from pyspark.sql import functions as F

    from logzilla_spark.operators.enrich import enrich_records
    from logzilla_spark.operators.parse import explode_lines, hybrid_needs_python, parse_records

    pages = spark.read.parquet(delta)
    dl = spark.read.parquet(os.path.join(dims_dir, "dim_lang.parquet"))
    ds = spark.read.parquet(os.path.join(dims_dir, "dim_severity.parquet"))

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    parsed = parse_records(pages, impl="hybrid", use_html=True)
    enriched = enrich_records(parsed, dl, ds)
    parse_s = _med(timed(parsed) for _ in range(repeats))
    enrich_s = _med(timed(enriched) for _ in range(repeats))
    py = explode_lines(pages).agg(
        F.avg(hybrid_needs_python(F.col("line")).cast("double"))).first()[0]
    dropped = parsed.agg(F.avg((F.col("category") == "unparsed").cast("double"))).first()[0]
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    return {
        "parse.s": parse_s,
        "enrich.s": max(enrich_s - parse_s, 0.0),
        "parse.python_rows_ratio": py,
        "parse.dropped_ratio": dropped,
        "enrich.broadcast_joins": plan.count("BroadcastHashJoin"),
    }


def per_layer(workload, wl, tracer, spark, warm_cpu_s, traced_flags, get_spark_s,
              codegen0, codegen1) -> dict:
    """Per-layer metrics computable while the session is alive."""
    from logzilla_spark.functions import caching

    out = {m["name"]: 0.0 for m in benchmark_spec()["per_layer"]}
    roots = _warm_units(tracer)
    selfs = tracer.self_times()
    subtrees = {r.id: tracer.subtree(r) for r in roots}
    codegen2 = trace.codegen_counters(spark)
    out.update({
        "session.get_spark_s": get_spark_s,
        "caching.tracked": len(caching._TRACKED),
        "codegen.compiles": codegen2["compiles"],
        "codegen.compile_ms": codegen2["compile_ms"],
        "codegen.source_bytes": codegen2["source_bytes"],
        "codegen.first_unit_compiles": codegen1["compiles"] - codegen0["compiles"],
    })
    # warm[0] is an untraced warm-up: the JIT is still compiling, so it
    # costs more than the units after it
    traced = [w for w, t in zip(warm_cpu_s, traced_flags) if t]
    untraced = [w for w, t in zip(warm_cpu_s[1:], traced_flags[1:]) if not t]
    out["trace.overhead_s"] = _med(traced) - _med(untraced)
    out["trace.unattributed_ratio"] = _med(selfs[r.id] / r.dur for r in roots)
    for layer in LAYERS:
        out[f"self_s.{layer}"] = _med(
            sum(selfs[s.id] for s in subtrees[r.id] if s.layer == layer) for r in roots)

    def per_unit(pred, value=lambda s: s.dur):
        return _med(sum(value(s) for s in subtrees[r.id] if pred(s)) for r in roots)

    if workload == "ingest":
        out["catalog.commit_s"] = per_unit(lambda s: s.name == "commit")
        out["catalog.commits"] = per_unit(lambda s: s.name == "commit", lambda s: 1)
        out["catalog.read_s"] = per_unit(lambda s: s.layer == "sources.catalog" and s.name == "read",
                                         lambda s: selfs[s.id])
        cat = wl.cat
        out["catalog.snapshots"] = sum(len(cat.snapshot_ids(t)) for t in cat.tables())
        out["catalog.data_files"] = wl.sink_files[-1]
        out["route.s"] = per_unit(lambda s: s.layer == "operators.route")
        out["route.files_written"] = per_unit(lambda s: s.layer == "operators.route",
                                              lambda s: s.counters.get("files", 0))
        out["route.bytes_written"] = per_unit(lambda s: s.layer == "operators.route",
                                              lambda s: s.counters.get("bytes", 0))
        out["aggregate.s"] = per_unit(lambda s: s.layer == "operators.aggregate")
        # the aggregate overwrite rescans every sink record
        warm_units = list(zip(wl.records_routed, wl.sink_records))[1:]
        out["aggregate.rows_scanned"] = _med(total for _, total in warm_units)
        out["aggregate.delta_ratio"] = _med(n / total for n, total in warm_units)
        handlers = defaultdict(list)
        overhead = []
        kids = tracer.children()
        for s in tracer.spans:
            if s.layer == "server" and s.name in REQUEST_KINDS:
                inner = [c for c in kids.get(s.id, []) if c.layer == "api"]
                handlers[s.name] += [c.dur for c in inner]
                overhead.append(s.dur - sum(c.dur for c in inner))
        for kind in REQUEST_KINDS:
            out[f"api.{kind}_ms.p50"] = 1e3 * _med(handlers[kind])
        out["server.overhead_ms.p50"] = 1e3 * _med(overhead)
        out.update(_parse_probe(spark, wl.probe_delta(), wl.dims_dir))
    else:
        qs = wl.query_s
        out["cluster.s"] = _med(qs["q_dedup_clusters"][1:])
        out["dedup.ngram_s"] = _med(qs["q_dedup_ngram_jaccard"][1:])
        out["similarity.cosine_s"] = _med(qs["q_dedup_embedding_cosine"][1:])
        out["lineage.truncate_calls"] = per_unit(lambda s: s.layer == "functions.lineage",
                                                 lambda s: 1)
        out["lineage.truncate_s"] = per_unit(lambda s: s.layer == "functions.lineage")
        cc = [s for s in tracer.spans if s.name == "connected_components"]
        if cc:
            n = sum(1 for s in tracer.subtree(cc[-1]) if s.layer == "functions.lineage")
            out["cluster.cc_rounds"] = (n - 1) / 2
    return out


def event_log_metrics(workload, wl, tracer, eventlog_dir) -> dict:
    """Per-layer metrics folded from the finished Spark event log."""
    ev = trace.EventLog(trace.event_log_file(eventlog_dir))
    roots = _warm_units(tracer)
    out = {}
    ids = {r.id: {s.id for s in tracer.subtree(r)} for r in roots}
    totals = [ev.task_totals(ev.jobs_of(ids[r.id])) for r in roots]
    for k in ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "gc_s"):
        key = {"executor_cpu_s": "cpu_s"}.get(k, k)
        out[f"spark.{k}"] = _med(t.get(key, 0.0) for t in totals)
    if workload == "ingest":
        runs = [s for s in tracer.spans if s.layer == "plans.pipeline" and s.name == "run"
                and any(s.id in ids[r.id] for r in roots)]
        jobs = [ev.jobs_of({x.id for x in tracer.subtree(s)}) for s in runs]
        out["pipeline.spark_jobs"] = _med(len(j) for j in jobs)
        out["pipeline.driver_s"] = _med(
            s.dur - trace.job_time_ms(j) / 1e3 for s, j in zip(runs, jobs))
        reqs = [s for s in tracer.spans if s.layer == "server" and s.name in REQUEST_KINDS]
        req_jobs = [ev.jobs_of({x.id for x in tracer.subtree(s)}) for s in reqs]
        out["query.spark_jobs_per_request"] = _med(len(j) for j in req_jobs)
        files_read = sum(ev.sql_metric(j, "number of files read", ("Scan",)) for j in req_jobs)
        scanned = sum(ev.sql_metric(j, "number of output rows", ("Scan",)) for j in req_jobs)
        rows = {r["span"].id: r for r in wl.requests if r["span"] is not None}
        files_there = sum(rows[s.id]["sink_files"] for s in reqs)
        returned = sum(rows[s.id]["rows"] for s in reqs)
        out["query.files_read_ratio"] = files_read / files_there if files_there else 0.0
        out["query.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0
    else:
        spans = [s for s in tracer.spans if s.name == "q_dedup_ngram_jaccard"]
        if spans:
            jobs = ev.jobs_of({x.id for x in tracer.subtree(spans[-1])})
            cand = ev.sql_metric(jobs, "number of output rows", trace.JOIN_NODES, max)
            out["dedup.candidate_pairs"] = cand
            pairs = wl.result_rows.get("q_dedup_ngram_jaccard", 0)
            out["dedup.verified_ratio"] = pairs / cand if cand else 0.0
    return out

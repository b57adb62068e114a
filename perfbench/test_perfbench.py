"""Tests of the benchmark's own helpers: the tail statistic, the output
checks and the metric names.

    python3 -m pytest perfbench/test_perfbench.py -q

The check tests use DuckDB only; no Spark session is started.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, report, stats, trace  # noqa: E402
from perfbench.ingest import request_mix  # noqa: E402

# -- the .tail statistic ------------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    assert stats.tail([float(i) for i in range(10)]) is None
    # 11 samples: rank 1 (p9) leaves exactly 10 beyond
    assert stats.tail([float(i) for i in range(11)]) == (0.0, 9, 11)


def test_tail_picks_highest_percentile():
    xs = [float(i) for i in range(1, 101)]
    value, p, n = stats.tail(xs)
    assert (p, n) == (90, 100)
    assert value == 90.0
    assert sum(1 for x in xs if x > value) == 10


def test_tail_is_order_free():
    xs = [5.0, 1.0, 9.0] * 10
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_interval_counts_cpu_of_child_processes():
    import resource
    import subprocess

    before = resource.getrusage(resource.RUSAGE_CHILDREN)
    iv = stats.Interval()
    subprocess.run([sys.executable, "-c", "sum(range(10_000_000))"], check=True)
    iv.stop()
    after = resource.getrusage(resource.RUSAGE_CHILDREN)
    child = (after.ru_utime + after.ru_stime) - (before.ru_utime + before.ru_stime)
    assert child > 0.05
    assert iv.cpu >= child - 0.05
    assert iv.wall > 0


# -- output checks --------------------------------------------------------------


def test_check_query_fails_on_one_dropped_or_altered_row():
    con = checks.connect()
    sql = "SELECT * FROM (VALUES (1, 2, 0.75), (1, 3, 0.5), (2, 3, 0.9)) t(doc_a, doc_b, sim)"
    good = con.sql(sql).df()
    assert checks.check_query(con, "q", sql, good.iloc[::-1]) == []
    assert checks.check_query(con, "q", sql, good.iloc[1:])
    altered = good.copy()
    altered.loc[0, "sim"] = 0.7500000001
    assert checks.check_query(con, "q", sql, altered)


def test_check_clusters_against_union_find():
    pairs = [(0, 1), (1, 2), (4, 5)]
    good = {0: (0, True), 1: (0, False), 2: (0, False), 3: (3, True),
            4: (4, True), 5: (4, False)}
    assert checks.check_clusters(pairs, good, 6) == []
    dropped = dict(good)
    del dropped[3]
    assert checks.check_clusters(pairs, dropped, 6)
    assert checks.check_clusters(pairs, {**good, 2: (2, True)}, 6)


class _Catalog:
    """The two LocalCatalog reads the ingest checks use, over fixed files."""

    def __init__(self, tables: dict[str, list[str]]):
        self.tables = tables

    def last_snapshot_id(self, name):
        return 1 if name in self.tables else None

    def _groups(self, name, sid):
        return [{"files": self.tables[name]}]


@pytest.fixture()
def routed(tmp_path):
    """One delta's pages, with sinks and aggregates built by the DuckDB twins."""
    from logzilla_spark import oracle
    from logzilla_spark.schemas import CATEGORIES
    from perfbench import inputs

    pages = str(tmp_path / "pages.parquet")
    inputs.write_pages(pages, 40, 123)
    con = checks.connect()
    recs = con.sql(oracle.records_sql(pages)).df()
    aggs = con.sql(oracle.windowed_counts_sql(pages)).df()
    tables = {}
    for c in CATEGORIES:
        f = str(tmp_path / f"sink_{c}.parquet")
        recs[recs.category == c][["id", "category"]].to_parquet(f, index=False)
        tables[f"sink_{c}"] = [f]
        g = str(tmp_path / f"agg_{c}.parquet")
        aggs[aggs.category == c].to_parquet(g, index=False)
        tables[f"agg_{c}"] = [g]
    return con, pages, tables, list(CATEGORIES)


def test_ingest_checks_pass_on_twin_output(routed):
    con, pages, tables, cats = routed
    assert checks.check_routing(con, _Catalog(tables), cats, pages) == []
    assert checks.check_aggregates(con, _Catalog(tables), cats, pages) == []


def test_routing_check_fails_on_one_dropped_or_altered_row(routed):
    con, pages, tables, cats = routed
    f = tables["sink_json"][0]
    df = pd.read_parquet(f)
    df.iloc[1:].to_parquet(f, index=False)
    assert checks.check_routing(con, _Catalog(tables), cats, pages)
    df.loc[0, "id"] = df.loc[1, "id"]  # same row count, one id altered
    df.to_parquet(f, index=False)
    assert checks.check_routing(con, _Catalog(tables), cats, pages)


def test_aggregate_check_fails_on_one_dropped_or_altered_row(routed):
    con, pages, tables, cats = routed
    f = tables["agg_access"][0]
    df = pd.read_parquet(f)
    df.iloc[1:].to_parquet(f, index=False)
    assert checks.check_aggregates(con, _Catalog(tables), cats, pages)
    df.loc[0, "n"] += 1
    df.to_parquet(f, index=False)
    assert checks.check_aggregates(con, _Catalog(tables), cats, pages)


@pytest.fixture()
def records(tmp_path):
    """A sink file shaped like the pipeline's, behind the ``records`` view."""
    n = 120
    pdf = pd.DataFrame({
        "id": [f"u{i:04d}" for i in range(n)],
        "source": ["hot1.example" if i % 4 == 0 else "site.example" for i in range(n)],
        "timestamp": pd.date_range("2024-01-02", periods=n, freq="37min"),
        "level": [["ERROR", "WARN", "INFO"][i % 3] for i in range(n)],
        "message": ["m"] * n,
        "category": ["json"] * n,
        "lang": ["en"] * n,
        "metadata": [[("service", f"svc{i % 7}")] for i in range(n)],
    })
    schema = pa.schema([
        ("id", pa.string()), ("source", pa.string()), ("timestamp", pa.timestamp("us")),
        ("level", pa.string()), ("message", pa.string()), ("category", pa.string()),
        ("lang", pa.string()), ("metadata", pa.map_(pa.string(), pa.string())),
    ])
    f = str(tmp_path / "sink.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), f)
    con = checks.connect()
    checks.records_view(con, [f])
    return con


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_search_check_fails_on_one_dropped_or_altered_row(records, seed):
    import numpy as np

    from logzilla_spark.api import decode_query
    from logzilla_spark.operators.query import search_oracle_sql

    for kind, _, body in request_mix(np.random.default_rng(seed)):
        if kind not in ("search", "dsl"):
            continue
        sql = search_oracle_sql("records", decode_query(json.dumps(body)),
                                select_sql=[f'"{c}"' for c in body["select_columns"]])
        rows = [dict(zip(body["select_columns"], map(str, r)))
                for r in records.sql(sql).fetchall()]
        assert checks.check_response(records, kind, body, {"success": True, "data": rows}) == []
        assert checks.check_response(records, kind, body, {"success": False, "message": "x"})
        if rows:
            dropped = {"success": True, "data": rows[1:]}
            altered = {"success": True, "data": [{**rows[0], "level": "FATAL"}] + rows[1:]}
            assert checks.check_response(records, kind, body, dropped)
            assert checks.check_response(records, kind, body, altered)


def test_facets_check_fails_on_one_dropped_or_altered_row(records):
    import numpy as np

    body = [b for k, _, b in request_mix(np.random.default_rng(0)) if k == "facets"][0]
    rows = [dict(zip(("facet", "value", "n"), r))
            for r in records.sql(checks.facets_sql("records", body)).fetchall()]
    assert {r["facet"] for r in rows} == {"level", "source", "_histogram"}
    assert checks.check_response(records, "facets", body, {"success": True, "data": rows}) == []
    dropped = {"success": True, "data": rows[1:]}
    altered = {"success": True, "data": [{**rows[0], "n": rows[0]["n"] + 1}] + rows[1:]}
    assert checks.check_response(records, "facets", body, dropped)
    assert checks.check_response(records, "facets", body, altered)


def test_range_check_fails_on_one_dropped_or_altered_point(records):
    import numpy as np

    from logzilla_spark.api import decode_query
    from logzilla_spark.operators.range_query import range_query_sql

    body = [b for k, _, b in request_mix(np.random.default_rng(0)) if k == "range"][0]
    q = {k: v for k, v in body.items() if k not in ("step", "by")}
    rows = records.sql(range_query_sql("records", decode_query(json.dumps(q)),
                                       step=body["step"], by=body["by"])).fetchall()
    series: dict = {}
    for level, bucket, v in rows:
        series.setdefault(level, []).append([bucket, v])
    data = [{"labels": {"level": k}, "values": sorted(v)} for k, v in series.items()]
    ok = {"success": True, "data": data}
    assert checks.check_response(records, "range", body, ok) == []
    dropped = [{**data[0], "values": data[0]["values"][1:]}] + data[1:]
    assert checks.check_response(records, "range", body, {"success": True, "data": dropped})
    b, v = data[0]["values"][0]
    altered = [{**data[0], "values": [[b, v + 1]] + data[0]["values"][1:]}] + data[1:]
    assert checks.check_response(records, "range", body, {"success": True, "data": altered})


# -- metric names and the trace arithmetic -----------------------------------------

UNIT_CHARS = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_/%.-")


def test_benchmark_json_shape():
    spec = report.benchmark_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert m["unit"] and set(m["unit"]) <= UNIT_CHARS and len(m["unit"]) <= 16
        assert m["better"] in ("lower", "higher")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert {w["name"] for w in spec["workloads"]} == {"ingest", "curate"}


def test_printed_metrics_match_benchmark_json():
    spec = report.benchmark_spec()
    for section in ("end_to_end", "per_layer"):
        values = {m["name"]: 1.0 for m in spec[section]}
        out = report.as_metrics(values, section)
        assert list(out) == [m["name"] for m in spec[section]]
        assert all(v["unit"] == m["unit"] for v, m in zip(out.values(), spec[section]))
        with pytest.raises(KeyError):
            report.as_metrics({**values, "not_a_metric": 1.0}, section)
        with pytest.raises(KeyError):
            report.as_metrics(dict(list(values.items())[1:]), section)


def test_every_layer_self_time_is_a_metric():
    names = {m["name"] for m in report.benchmark_spec()["per_layer"]}
    assert {f"self_s.{layer}" for layer in report.LAYERS} <= names


def test_self_times_sum_to_unit_wall():
    tr = trace.Tracer(enabled=True)
    with tr.span("unit", "u") as root:
        with tr.span("a", "x"):
            with tr.span("b", "y"):
                pass
        with tr.span("b", "z"):
            pass
    selfs = tr.self_times()
    assert {s.layer for s in tr.subtree(root)} == {"unit", "a", "b"}
    assert sum(selfs[s.id] for s in tr.subtree(root)) == pytest.approx(root.dur, rel=1e-9)
    assert all(v >= 0 for v in selfs.values())


def test_covered_time_merges_overlaps():
    assert trace.covered_time([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.covered_time([(0, 2), (1, 3)], 1.5, 2.5) == 1.0

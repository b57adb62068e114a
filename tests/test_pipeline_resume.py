"""G6/G7 — lineage metrics + checkpoint-resume idempotence.

north_rule invariant: a run killed after any stage resumes from the
last committed checkpoint and converges to a byte-identical end state
with no reprocessing of already-checkpointed input.
"""

import pytest
from pyspark.sql import functions as F

from logzilla_spark.operators.route import sink_name
from logzilla_spark.plans.pipeline import METRICS_TABLE, Pipeline
from logzilla_spark.schemas import CATEGORIES
from logzilla_spark.sources.catalog import LocalCatalog
from logzilla_spark.testdata import dim_lang_pdf, dim_severity_pdf, ensure_pages

from .conftest import SF001


def _mk(spark, tmp_path, name):
    cat = LocalCatalog(str(tmp_path / name))
    p = Pipeline(spark, cat, parse_impl="native")
    d = ensure_pages(SF001)
    pages = spark.read.parquet(f"{d}/pages.parquet")
    p.set_dims(
        spark.createDataFrame(dim_lang_pdf()),
        spark.createDataFrame(dim_severity_pdf()),
    )
    return cat, p, pages


def _state(spark, cat):
    """Canonical full state of sinks + aggs (sorted tuples)."""
    out = {}
    for c in CATEGORIES:
        sink = cat.read(spark, sink_name(c))
        out[f"sink_{c}"] = sorted(
            (r.id, r.level, str(r.timestamp), r.message, r.lang_name, r.severity_weight)
            for r in sink.select(
                "id", "level", "timestamp", "message", "lang_name", "severity_weight"
            ).collect()
        )
        out[f"agg_{c}"] = sorted(map(tuple, cat.read(spark, f"agg_{c}").collect()))
    return out


def test_incremental_and_noop(spark, tmp_path):
    cat, p, pages = _mk(spark, tmp_path, "wh")
    b1 = pages.filter(F.col("lang") != "en")
    b2 = pages.filter(F.col("lang") == "en")
    p.ingest_pages(b1)
    r1 = p.run(run_id="r1")
    assert r1.rows_in == b1.count()
    # no new input -> no-op
    r2 = p.run(run_id="r2")
    assert r2.rows_in == 0 and r2.rows_routed == {}
    # second increment only processes the delta
    p.ingest_pages(b2)
    r3 = p.run(run_id="r3")
    assert r3.rows_in == b2.count()
    total = sum(
        cat.read(spark, sink_name(c)).count() for c in CATEGORIES
    )
    # every page line routed exactly once
    from logzilla_spark.operators.parse import parse_records

    assert total == parse_records(pages, impl="native").count()


@pytest.mark.parametrize("fail_stage", ["route", "aggregate", "metrics"])
def test_crash_resume_idempotent(spark, tmp_path, fail_stage):
    d = ensure_pages(SF001)
    # reference run: no failure
    cat_ref, p_ref, pages = _mk(spark, tmp_path, "ref")
    b1 = pages.filter(F.col("lang") != "en")
    b2 = pages.filter(F.col("lang") == "en")
    p_ref.ingest_pages(b1)
    p_ref.run(run_id="a1")
    p_ref.ingest_pages(b2)
    p_ref.run(run_id="a2")
    want = _state(spark, cat_ref)

    # crashing run: same increments, injected death mid-second-run
    cat, p, _ = _mk(spark, tmp_path, f"crash_{fail_stage}")
    p.ingest_pages(b1)
    p.run(run_id="b1")
    p.ingest_pages(b2)
    with pytest.raises(RuntimeError, match="injected failure"):
        p.run(run_id="b2_dead", fail_after_stage=fail_stage)
    report = p.run(run_id="b2_resume")
    # resume reprocessed ONLY the un-checkpointed delta
    assert report.rows_in == b2.count()
    if fail_stage in ("route", "aggregate", "metrics"):
        assert report.resumed_rollbacks > 0  # orphan commits were dropped
    assert _state(spark, cat) == want


def test_lineage_metrics(spark, tmp_path):
    import time

    cat, p, pages = _mk(spark, tmp_path, "wh_m")
    p.ingest_pages(pages)
    t0_us = int(time.time() * 1e6)
    rep = p.run(run_id="r1")
    t1_us = int(time.time() * 1e6)
    m = cat.read(spark, METRICS_TABLE)
    rows = m.collect()
    # one driver-side commit clock per run, taken inside the run
    stamps = {
        r.us for r in m.select(F.unix_micros("committed_at").alias("us")).collect()
    }
    assert len(stamps) == 1
    assert t0_us <= stamps.pop() <= t1_us
    stages = {r.stage for r in rows}
    assert stages == {"parse"} | {f"route_{c}" for c in CATEGORIES}
    # lineage counters reconcile with routed counts
    by_stage = (
        m.groupBy("stage").agg(F.sum("rows_out").alias("n")).collect()
    )
    got = {r.stage: r.n for r in by_stage}
    for c in CATEGORIES:
        assert got[f"route_{c}"] == rep.rows_routed[c]
    assert got["parse"] == sum(rep.rows_routed.values())
    assert all(r.run_id == "r1" and r.input_snapshot_id == 1 for r in rows)

"""Physical-plan audits: the plans we want at 100 TB, asserted.

Each test pins a plan property that matters at scale (SURVEY.md §4):
filters/columns pushed into the parquet scan, broadcast joins for dims,
top-k instead of global sort, map-side partial aggregation, and a
shuffle-free parse stage. A regression here is a 100x cost bug even if
results stay correct.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from logzilla_spark.operators.aggregate import windowed_counts
from logzilla_spark.operators.enrich import enrich_records
from logzilla_spark.operators.parse import parse_records
from logzilla_spark.operators.query import ComparisonNode, Query, search
from logzilla_spark.testdata import ensure_pages

SF001 = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def pages(spark):
    d = ensure_pages(SF001)
    return spark.read.parquet(f"{d}/pages.parquet")


@pytest.fixture(scope="module")
def dims(spark):
    d = ensure_pages(SF001)
    return (
        spark.read.parquet(f"{d}/dim_lang.parquet"),
        spark.read.parquet(f"{d}/dim_severity.parquet"),
    )


def test_parse_stage_has_no_shuffle(spark, pages):
    """Parse is a narrow map stage: partition-preserving, no Exchange."""
    for impl in ("arrow", "native", "hybrid"):
        plan = plan_of(parse_records(pages, impl=impl))
        assert "Exchange" not in plan, f"{impl} parse plan shuffles:\n{plan}"


def test_search_plans_topk_and_pushdown(spark, pages):
    """ORDER BY + LIMIT plans TakeOrderedAndProject (distributed top-k,
    no global sort); the mandatory time filter reaches the scan."""
    rec = parse_records(pages, impl="native")  # native: filters can push
    q = Query(
        start=datetime(2024, 1, 1), end=datetime(2024, 1, 8),
        node=ComparisonNode("level", "FATAL", "eq"), limit=50,
        select_columns=["id", "timestamp", "level"],
    )
    plan = plan_of(search(rec, q))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort for top-k

    # filters on scan columns (url/warc_ts) push to parquet
    direct = search(
        pages.select(
            F.col("url").alias("id"), F.col("warc_ts").alias("timestamp"),
            F.lit("FATAL").alias("level"), F.lit("").alias("message"),
            F.lit("x").alias("source"),
            F.create_map().cast("map<string,string>").alias("metadata"),
        ),
        Query(start=datetime(2024, 1, 1), limit=10,
              select_columns=["id", "timestamp"]),
    )
    fp = formatted_plan(direct)
    assert "PushedFilters" in fp
    assert "warc_ts" in fp.split("PushedFilters")[1].splitlines()[0]


def test_enrich_uses_broadcast_hash_joins(spark, pages, dims):
    """Both dim joins must be broadcast — never shuffle the fact side."""
    rec = parse_records(pages, impl="hybrid")
    plan = plan_of(enrich_records(rec, *dims))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_windowed_counts_partial_aggregation(spark, pages):
    """Count aggregate must be two-phase: map-side partial before the
    exchange, final after — the shuffle then carries one row per
    (window, keys) per partition, not one per record."""
    rec = parse_records(pages, impl="native")
    plan = plan_of(windowed_counts(rec))
    # partial agg -> exchange -> final agg, in that order
    i_partial = plan.find("partial_count")
    i_exchange = plan.find("Exchange hashpartitioning")
    i_final = plan.find("count(")
    assert i_partial != -1 and i_exchange != -1
    assert i_final < i_exchange < i_partial  # plan prints top-down


def test_agg_scan_prunes_columns(spark, tmp_path, pages):
    """Reading sinks for the windowed aggregate must NOT decode the
    metadata map or message — column pruning reaches the parquet scan."""
    rec = parse_records(pages, impl="native")
    rec.write.mode("overwrite").parquet(str(tmp_path / "sink"))
    agg = windowed_counts(
        spark.read.parquet(str(tmp_path / "sink"))
    )
    fp = formatted_plan(agg)
    read_schema = fp.split("ReadSchema:")[1].splitlines()[0]
    assert "metadata" not in read_schema
    assert "message" not in read_schema
    for col in ("warc_ts", "category", "level", "lang"):
        assert col in read_schema


@pytest.mark.parametrize("name", ["q_dedup_embedding_cosine", "q_sim_topk_bruteforce"])
def test_exact_cosine_runs_in_the_arrow_kernel(spark, name):
    """Exact cosine near-dup and brute-force top-k score pairs in one
    Arrow map stage (functions/vectors.py), not a nested-loop join with
    the cosine expression in its condition and its projection."""
    import __spark_entry__ as entrymod

    plan = plan_of(entrymod.queries()[name](spark, SF001))
    assert "MapInArrow" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

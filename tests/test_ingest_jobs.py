"""Ingest launches only the Spark jobs that move data.

Sinks and aggregates commit their writer's schema, so reading them
infers nothing from footers; a table whose files share one set of
``k=v`` directories is one parquet scan; ``Pipeline.run`` takes
``rows_in`` from footers, writes every aggregate in one job and builds
its metrics rows over Arrow.
"""

import os
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from logzilla_spark.operators.aggregate import windowed_counts
from logzilla_spark.operators.route import read_all_sinks, sink_name
from logzilla_spark.plans.pipeline import Pipeline
from logzilla_spark.schemas import CATEGORIES
from logzilla_spark.sources.catalog import LocalCatalog, _shared_partition_dirs
from logzilla_spark.testdata import dim_lang_pdf, dim_severity_pdf, ensure_pages

from .conftest import SF001

N_DELTAS = 3


@contextmanager
def spark_jobs(spark):
    """Collects the ids of the Spark jobs the block launches."""
    sc = spark.sparkContext
    tag = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, tag)
    ids: list[int] = []
    try:
        yield ids
    finally:
        ids.extend(sc.statusTracker().getJobIdsForGroup(tag))
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)


def scans(df) -> int:
    """Leaf relations of the optimized plan: one per parquet scan."""
    return df._jdf.queryExecution().optimizedPlan().collectLeaves().size()


def rows(df) -> list:
    return sorted(map(str, df.collect()))


def per_group_read(spark, cat, name):
    """The read as a snapshot without a recorded schema gets it: one
    inferring scan per group."""
    return cat._read_groups(spark, cat._groups(name, cat.last_snapshot_id(name)))


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """Three deltas through the product pipeline (three append groups
    per sink); the job ids of each run."""
    cat = LocalCatalog(str(tmp_path_factory.mktemp("ingest_jobs")))
    p = Pipeline(spark, cat)
    p.set_dims(
        spark.createDataFrame(dim_lang_pdf()),
        spark.createDataFrame(dim_severity_pdf()),
    )
    pages = spark.read.parquet(f"{ensure_pages(SF001)}/pages.parquet")
    part = F.pmod(F.crc32(F.col("url")), F.lit(N_DELTAS))
    run_jobs = []
    for i in range(N_DELTAS):
        p.ingest_pages(pages.filter(part == i))
        with spark_jobs(spark) as ids:
            p.run(run_id=f"r{i}")
        run_jobs.append(ids)
    return cat, p, run_jobs


def test_sink_read_launches_no_job_and_keeps_inferred_schema(spark, warehouse):
    cat, _, _ = warehouse
    for c in CATEGORIES:
        with spark_jobs(spark) as ids:
            sink = cat.read(spark, sink_name(c))
        assert ids == []
        inferred = per_group_read(spark, cat, sink_name(c))
        assert [(f.name, f.dataType) for f in sink.schema] == [
            (f.name, f.dataType) for f in inferred.schema
        ]
        assert sink.columns[-1] == "category"
        assert rows(sink) == rows(inferred)


def test_second_delta_run_launches_at_most_six_jobs(warehouse):
    _, _, run_jobs = warehouse
    for ids in run_jobs[1:]:
        assert 0 < len(ids) <= 6


def test_sink_with_many_append_groups_is_one_scan(spark, warehouse):
    cat, p, _ = warehouse
    name = sink_name("json")
    assert len(cat._groups(name, cat.last_snapshot_id(name))) == N_DELTAS
    sink = cat.read(spark, name)
    assert scans(sink) == 1
    assert scans(per_group_read(spark, cat, name)) == N_DELTAS
    assert rows(sink) == rows(per_group_read(spark, cat, name))
    assert scans(read_all_sinks(spark, cat, p.categories)) == len(CATEGORIES)


def test_agg_tables_equal_windowed_counts_per_category(spark, warehouse):
    cat, _, _ = warehouse
    for c in CATEGORIES:
        agg = cat.read(spark, f"agg_{c}")
        want = windowed_counts(cat.read(spark, sink_name(c)))
        assert agg.columns == want.columns
        assert [f.dataType for f in agg.schema] == [f.dataType for f in want.schema]
        assert rows(agg) == rows(want)
        assert scans(agg) == 1


def test_metrics_rows_per_run(spark, warehouse):
    cat, _, _ = warehouse
    m = cat.read(spark, "metrics")
    parse = {
        r.run_id: (r.rows_in, r.rows_out) for r in m.filter("stage = 'parse'").collect()
    }
    assert set(parse) == {f"r{i}" for i in range(N_DELTAS)}
    pages = spark.read.parquet(f"{ensure_pages(SF001)}/pages.parquet").count()
    assert sum(n for n, _ in parse.values()) == pages
    routed = m.filter("stage LIKE 'route_%'").agg(F.sum("rows_out")).first()[0]
    assert routed == sum(out for _, out in parse.values())


def test_category_without_sink_rows_gets_no_agg_commit(spark, tmp_path):
    cat = LocalCatalog(str(tmp_path / "wh"))
    p = Pipeline(spark, cat, parse_impl="native",
                 quota={"quota": 10**9, "window": "day"})
    p.ingest_pages(spark.read.parquet(f"{ensure_pages(SF001)}/pages.parquet"))
    p.run(run_id="r1")
    assert cat.exists(sink_name("throttled"))  # committed, file-less
    assert not cat.exists("agg_throttled")
    for c in CATEGORIES:
        assert cat.snapshot_summary(f"agg_{c}", cat.last_snapshot_id(f"agg_{c}")) == {
            "input_snapshot_id": 1, "run_id": "r1",
        }


def test_expiring_agg_snapshots_deletes_superseded_files(spark, warehouse):
    cat, _, _ = warehouse
    # the aggregate's staging is gone; the sinks' three stay
    assert len(os.listdir(os.path.join(cat.warehouse, "_routed"))) == N_DELTAS
    name = "agg_json"
    ids = cat.snapshot_ids(name)
    assert len(ids) == N_DELTAS
    old = {f for i in ids[:-1] for g in cat._groups(name, i) for f in g["files"]}
    head = [f for g in cat._groups(name, ids[-1]) for f in g["files"]]
    want = rows(cat.read(spark, name))
    out = cat.expire_snapshots(name, keep_last=1)
    assert out["expired"] == ids[:-1]
    assert out["external_skipped"] == []
    assert out["deleted_files"] == len(old) > 0
    assert not any(os.path.exists(f) for f in old)
    assert all(os.path.exists(f) for f in head)
    assert rows(cat.read(spark, name)) == want
    assert cat.remove_orphan_files(name, older_than_seconds=0) == []


def test_sink_rows_without_warc_ts_get_an_empty_agg_table(spark, tmp_path):
    # windowed_counts drops rows with a NULL time: no agg file for any
    # category, yet every agg table is committed and reads empty
    cat = LocalCatalog(str(tmp_path / "wh"))
    p = Pipeline(spark, cat, parse_impl="native")
    pages = spark.read.parquet(f"{ensure_pages(SF001)}/pages.parquet")
    p.ingest_pages(pages.withColumn("warc_ts", F.lit(None).cast("timestamp")))
    p.run(run_id="r1")
    present = [c for c in CATEGORIES if cat.exists(sink_name(c))
               and cat.read(spark, sink_name(c)).limit(1).count()]
    assert present
    for c in present:
        agg = cat.read(spark, f"agg_{c}")
        assert agg.count() == 0
        assert agg.columns == windowed_counts(cat.read(spark, sink_name(c))).columns


def _many_file_table(spark, cat, appends, files_each, parts=None):
    for i in range(appends):
        df = spark.range(i * 100, i * 100 + 4 * files_each, numPartitions=files_each)
        if parts:
            df = df.withColumn("part", F.when(F.col("id") % 2 == 0, "a").otherwise("b"))
        cat.append(df, "t", partition_by=["part"] if parts else None)


def test_read_past_the_listing_threshold_launches_no_job(spark, tmp_path):
    threshold = int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"
    ))
    cat = LocalCatalog(str(tmp_path / "wh"))
    _many_file_table(spark, cat, appends=threshold // 4 + 1, files_each=4)
    files = [f for g in cat._groups("t", cat.last_snapshot_id("t")) for f in g["files"]]
    assert len(files) > threshold
    with spark_jobs(spark) as ids:
        got = cat.read(spark, "t")
    assert ids == []
    assert scans(got) == -(-len(files) // threshold)
    assert rows(got) == rows(spark.read.parquet(*files))


def test_one_group_past_the_listing_threshold_launches_no_job(spark, tmp_path):
    # mixed partition values keep the per-group path; its one group
    # holds two files per write task
    threshold = int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"
    ))
    cat = LocalCatalog(str(tmp_path / "wh"))
    _many_file_table(spark, cat, appends=1, files_each=threshold // 2 + 1, parts=True)
    (g,) = cat._groups("t", cat.last_snapshot_id("t"))
    assert len(g["files"]) > threshold
    with spark_jobs(spark) as ids:
        got = cat.read(spark, "t")
    assert ids == []
    assert got.columns == ["id", "part"]
    assert rows(got) == rows(
        spark.read.option("basePath", g["base"]).parquet(*g["files"]).select("id", "part")
    )


# -- fallbacks: per-group scans where one scan cannot spell the values --------

def _part_table(spark, cat, values):
    """One append per value of ``part``, which sits mid-schema."""
    for i, v in enumerate(values):
        df = spark.range(3 * i, 3 * i + 3).select(
            "id",
            F.lit(v).cast("string").alias("part"),
            F.col("id").cast("string").alias("s"),
        )
        cat.append(df, "t", partition_by=["part"])


@pytest.mark.parametrize("values", [
    ["a", "b", "a"],  # mixed values
    ["x:y", "x:y"],   # hive-escaped in the directory name
    [None, None],     # __HIVE_DEFAULT_PARTITION__
])
def test_fallback_snapshots_read_per_group(spark, tmp_path, values):
    cat = LocalCatalog(str(tmp_path / "wh"))
    _part_table(spark, cat, values)
    got = cat.read(spark, "t")
    assert scans(got) == len(values)
    assert got.columns == ["id", "part", "s"]  # schema order, both paths
    assert rows(got.select("id", "part")) == sorted(
        str(r) for r in spark.createDataFrame(
            [(3 * i + j, v) for i, v in enumerate(values) for j in range(3)],
            "id bigint, part string",
        ).collect()
    )


def test_single_partition_value_is_one_scan_in_schema_order(spark, tmp_path):
    cat = LocalCatalog(str(tmp_path / "wh"))
    _part_table(spark, cat, ["a", "a", "a"])
    got = cat.read(spark, "t")
    assert scans(got) == 1
    assert got.columns == ["id", "part", "s"]
    assert rows(got) == rows(per_group_read(spark, cat, "t").select("id", "part", "s"))
    # a pruned read of one value of a mixed table reads like the full one
    _part_table(spark, cat, ["b"])
    assert cat.read_partitions(spark, "t", "part", ["a"]).columns == ["id", "part", "s"]


def test_legacy_snapshot_without_schema_reads_per_group(spark, tmp_path):
    cat = LocalCatalog(str(tmp_path / "wh"))
    staged = str(tmp_path / "staged")
    (spark.range(4, numPartitions=2).withColumn("c", F.lit("x"))
     .write.partitionBy("c").parquet(staged))
    files = sorted(str(f) for f in (tmp_path / "staged").glob("c=x/*.parquet"))
    assert len(files) == 2
    cat.append_external("t", files[:1], staged)
    cat.append_external("t", files[1:], staged)
    assert cat._schema_json_at("t", cat.last_snapshot_id("t")) is None
    got = cat.read(spark, "t")
    assert scans(got) == 2
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3]
    assert got.columns == ["id", "c"]


def test_shared_partition_dirs():
    def g(base, *files):
        return {"base": base, "files": [f"{base}/{f}" for f in files]}

    assert _shared_partition_dirs([g("/w/d", "u1/p"), g("/w/e", "p")]) == {}
    assert _shared_partition_dirs(
        [g("/r/1", "c=json/p0", "c=json/p1"), g("/r/2", "c=json/p2")]
    ) == {"c": "json"}
    assert _shared_partition_dirs([g("/d", "u/m=1/k=a/p")]) == {"m": "1", "k": "a"}
    for bad in (
        [g("/r/1", "c=json/p"), g("/r/2", "c=access/p")],  # mixed
        [g("/r", "c=a/p"), g("/r", "p")],                  # partly none
        [g("/r", "c=a%3Ab/p")],                            # escaped
        [g("/r", "c=__HIVE_DEFAULT_PARTITION__/p")],       # NULL
        [g("/r", "c=a/u/p")],                              # plain dir below k=v
        [{"base": "/r/x", "files": ["/r/c=a/p"]}],         # outside its base
    ):
        assert _shared_partition_dirs(bad) is None

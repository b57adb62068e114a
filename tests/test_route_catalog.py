"""Catalog snapshot semantics + routing invariants (G3, G7 primitives)."""

import pytest
from pyspark.sql import functions as F

from logzilla_spark.operators.parse import parse_records
from logzilla_spark.operators.route import (
    read_all_sinks,
    route_to_sinks_single_pass,
    sink_name,
)
from logzilla_spark.schemas import CATEGORIES
from logzilla_spark.sources.catalog import LocalCatalog, SnapshotError
from logzilla_spark.testdata import ensure_pages

from .conftest import SF001


def test_catalog_append_overwrite_timetravel(spark, tmp_path):
    cat = LocalCatalog(str(tmp_path / "wh"))
    df1 = spark.range(5).withColumn("v", F.lit("a"))
    df2 = spark.range(3).withColumn("v", F.lit("b"))
    s1 = cat.append(df1, "t")
    s2 = cat.append(df2, "t")
    assert [s1, s2] == [1, 2]
    assert cat.read(spark, "t").count() == 8
    assert cat.read(spark, "t", snapshot_id=s1).count() == 5  # time travel
    inc = cat.read_incremental(spark, "t", after_snapshot_id=s1)
    assert inc.count() == 3  # only the second append
    assert cat.read_incremental(spark, "t", after_snapshot_id=s2) is None
    s3 = cat.overwrite(df1, "t")
    assert cat.read(spark, "t", snapshot_id=s3).count() == 5
    with pytest.raises(SnapshotError):
        cat.read(spark, "missing")


def test_route_set_equality_and_disjoint(spark, tmp_path):
    """north_rule invariants: union of sinks == parsed rows; sinks disjoint."""
    cat = LocalCatalog(str(tmp_path / "wh"))
    d = ensure_pages(SF001)
    rec = parse_records(spark.read.parquet(f"{d}/pages.parquet"), impl="native")
    snaps = route_to_sinks_single_pass(rec, cat, run_id="r1")
    assert set(snaps) == set(CATEGORIES)

    union = read_all_sinks(spark, cat)
    n_rec = rec.count()
    assert union.count() == n_rec
    # set equality on id (ids are unique per line)
    assert union.select("id").distinct().count() == n_rec
    assert (
        union.select("id").exceptAll(rec.select("id")).count() == 0
        and rec.select("id").exceptAll(union.select("id")).count() == 0
    )
    # pairwise disjoint + each sink pure
    for c in CATEGORIES:
        sdf = cat.read(spark, sink_name(c))
        assert sdf.filter(F.col("category") != c).count() == 0


def test_route_is_single_upstream_pass(spark, tmp_path):
    """The parse stage must run once, not once per sink: route over an
    accumulator-instrumented source and count upstream evaluations."""
    acc = spark.sparkContext.accumulator(0)

    def bump(it):
        for row in it:
            acc.add(1)
            yield row

    d = ensure_pages(SF001)
    pages = spark.read.parquet(f"{d}/pages.parquet")
    counted = spark.createDataFrame(pages.rdd.mapPartitions(bump), pages.schema)
    rec = parse_records(counted, impl="native")
    cat = LocalCatalog(str(tmp_path / "wh"))
    route_to_sinks_single_pass(rec, cat, run_id="r1")
    n_pages = pages.count()
    # one materialization: the partitioned staging write reads it once
    assert acc.value == n_pages, f"upstream evaluated {acc.value / n_pages:.1f}x"


def test_overwrite_partitions_is_metadata_only_for_untouched(spark, tmp_path):
    """Partition-scoped overwrite must carry untouched partitions'
    files into the new snapshot verbatim (no rewrite), and replace
    only the named partitions."""
    cat = LocalCatalog(str(tmp_path / "wh"))
    df1 = spark.createDataFrame(
        [("202401", 1, 10), ("202401", 2, 20), ("202402", 3, 30)],
        "agg_month string, k int, n int",
    )
    cat.overwrite_partitions(df1, "t", "agg_month", ["202401", "202402"])
    s1_files = {
        f for g in cat._groups("t", cat.last_snapshot_id("t")) for f in g["files"]
    }
    jan_files_s1 = {f for f in s1_files if "agg_month=202401" in f}
    assert jan_files_s1

    # epoch 2 touches ONLY February
    df2 = spark.createDataFrame(
        [("202402", 3, 99), ("202402", 4, 40)], "agg_month string, k int, n int"
    )
    cat.overwrite_partitions(df2, "t", "agg_month", ["202402"])
    s2_files = {
        f for g in cat._groups("t", cat.last_snapshot_id("t")) for f in g["files"]
    }
    jan_files_s2 = {f for f in s2_files if "agg_month=202401" in f}
    feb_files_s2 = {f for f in s2_files if "agg_month=202402" in f}
    # January files are the SAME paths — carried over, not rewritten
    assert jan_files_s2 == jan_files_s1
    # February files are all new
    assert not feb_files_s2 & s1_files
    got = {
        (str(r.agg_month), r.k): r.n for r in cat.read(spark, "t").collect()
    }
    assert got == {("202401", 1): 10, ("202401", 2): 20,
                   ("202402", 3): 99, ("202402", 4): 40}
    # partition-pruned read lists only the asked-for partition's files
    jan = cat.read_partitions(spark, "t", "agg_month", ["202401"])
    assert {r.k for r in jan.collect()} == {1, 2}
    assert cat.read_partitions(spark, "t", "agg_month", ["209901"]) is None


def test_committed_map_is_o1_at_snapshot_head(tmp_path, monkeypatch):
    """The streaming exactly-once lookup must read O(1) snapshot
    summaries per micro-batch, not walk the table's whole history
    (a 1,000-snapshot table would otherwise cost 1,000 driver-side
    file reads per epoch per category)."""
    from logzilla_spark.streaming import stream_pipeline as sp

    cat = LocalCatalog(str(tmp_path / "wh"))
    # 1,000 streaming commits, each carrying the cumulative map
    committed = {}
    for b in range(1000):
        cat._commit(
            "t", [], "append", sp._committed_summary(committed, "agg", b)
        )
        committed = {"agg": b}
    reads = []
    orig = LocalCatalog.snapshot_summary

    def counting(self, name, sid):
        reads.append(sid)
        return orig(self, name, sid)

    monkeypatch.setattr(LocalCatalog, "snapshot_summary", counting)
    assert sp._already_committed(cat, "t", "agg", 998)
    assert not sp._already_committed(cat, "t", "agg", 1000)
    assert len(reads) == 2  # one summary read per lookup — the head

    # batch-append / maintenance snapshots on top: _commit carries the
    # predecessor's cumulative map into them, so the head summary keeps
    # the map and the lookup stays ONE read (and the map survives
    # expire_snapshots deleting the older manifests)
    cat._commit("t", [], "append", {"note": "batch append, no own map"})
    reads.clear()
    assert sp._already_committed(cat, "t", "agg", 999)
    assert len(reads) == 1  # the head carries the carried-forward map
    assert cat.snapshot_summary("t", cat.last_snapshot_id("t"))[
        "committed"
    ] == {"agg": 999}

    # expired history below the head: the walk stops at the gap instead
    # of raising (the carry-forward is what makes stopping sound)
    cat.expire_snapshots("t", keep_last=1)
    reads.clear()
    assert sp._already_committed(cat, "t", "agg", 999)
    assert not sp._already_committed(cat, "t", "agg", 1000)
    assert len(reads) == 2


def test_committed_map_fresh_under_interleaved_queries(tmp_path):
    """Two queries committing to the SAME table, interleaved: a summary
    built from state read at epoch START would embed a stale batch id
    for the other query; _committed_map would then stop at that stale
    head map and treat the other query's newest epoch as uncommitted —
    re-appending a replayed micro-batch (duplicate rows). Publish-time
    summary callables (resolved inside the catalog's commit lock) keep
    the head map complete."""
    from logzilla_spark.streaming import stream_pipeline as sp

    cat = LocalCatalog(str(tmp_path / "wh"))
    t = "shared"
    # query B commits batch 5
    cat._commit(t, [], "append", sp._summary_at_publish(cat, t, "B", 5))
    # query A's epoch begins HERE (old code captured the map now: B->5)
    # ... then B commits batch 6 before A publishes
    cat._commit(t, [], "append", sp._summary_at_publish(cat, t, "B", 6))
    # A publishes; its head map must show B at 6, not 5
    cat._commit(t, [], "append", sp._summary_at_publish(cat, t, "A", 0))
    assert sp._already_committed(cat, t, "B", 6)  # replayed epoch detected
    assert sp._already_committed(cat, t, "A", 0)
    head = cat.snapshot_summary(t, cat.last_snapshot_id(t))
    assert head["committed"] == {"B": 6, "A": 0}


def test_overwrite_partitions_rejects_stray_partitions(spark, tmp_path):
    """df carrying a partition value NOT named in partition_values must
    fail fast: committing its files alongside the same partition's
    carried-over old files would silently double-count every row."""
    import pytest

    cat = LocalCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "202401"), (2, "202402")], "v INT, m STRING")
    cat.overwrite(df, "t", partition_by=["m"])
    with pytest.raises(ValueError, match="202402"):
        cat.overwrite_partitions(df, "t", "m", ["202401"])
    # the correct subset call still works
    ok = df.filter("m = '202401'")
    cat.overwrite_partitions(ok, "t", "m", ["202401"])
    assert cat.read(spark, "t").count() == 2


def test_partition_values_hive_escaped_rejected_literal_ok(spark, tmp_path):
    """Values Spark hive-escapes in directory names (':' -> '%3A',
    empty -> __HIVE_DEFAULT_PARTITION__) must be rejected loudly — raw
    token matching would mis-match them — while values Spark writes
    LITERALLY (a space is NOT escaped; verified on this Spark) must
    round-trip end-to-end."""
    import pytest as _pytest

    from logzilla_spark.sources.catalog import LocalCatalog

    cat = LocalCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame([("a:b", 1)], "k string, v int")
    with _pytest.raises(ValueError, match="hive-escapes"):
        cat.overwrite_partitions(df, "t", "k", ["a:b"])
    with _pytest.raises(ValueError, match="hive-escapes"):
        cat.read_partitions(spark, "t", "k", [""])

    # literal-written value (space) round-trips through write + prune
    ok = spark.createDataFrame([("a b", 1), ("c", 2)], "k string, v int")
    cat.overwrite_partitions(ok, "t2", "k", ["a b", "c"])
    got = cat.read_partitions(spark, "t2", "k", ["a b"])
    assert got is not None and [(r.v, r.k) for r in got.collect()] == [(1, "a b")]


def test_confirm_cannot_cache_stale_verdict_across_commit(spark, tmp_path, monkeypatch):
    """A confirm whose manifest scan races a commit that introduces
    unpartitioned files must not cache a stale fully-partitioned
    verdict (ADVICE r3): scan+cache run under the commit lock, so the
    racing writer serializes behind the confirm and its invalidation
    lands AFTER the stale cache write would have."""
    import threading

    cat = LocalCatalog(str(tmp_path / "wh"))
    part = spark.range(4).selectExpr(
        "CAST(id AS STRING) AS id", "CAST(id % 2 AS STRING) AS month"
    )
    cat.overwrite(part, "t", partition_by=["month"])

    # pre-stage unpartitioned files so the racing append is pure metadata
    ext = str(tmp_path / "ext")
    spark.range(2).selectExpr("CAST(id AS STRING) AS id").write.parquet(ext)
    import glob

    ext_files = sorted(glob.glob(f"{ext}/*.parquet"))

    orig_scan = LocalCatalog.has_unpartitioned_files
    in_scan = threading.Event()
    release = threading.Event()

    def slow_scan(self, name, partition_by):
        out = orig_scan(self, name, partition_by)
        in_scan.set()
        release.wait(20)  # hold the verdict while the writer commits
        return out

    monkeypatch.setattr(LocalCatalog, "has_unpartitioned_files", slow_scan)

    verdicts: list[bool] = []
    confirmer = threading.Thread(
        target=lambda: verdicts.append(cat.confirmed_fully_partitioned("t", "month"))
    )
    confirmer.start()
    assert in_scan.wait(20)
    # metadata-only append of unpartitioned files, racing the confirm
    appender = threading.Thread(
        target=lambda: cat.append_external("t", ext_files, ext)
    )
    appender.start()
    import time

    time.sleep(0.5)  # give the appender time to reach the commit lock
    release.set()
    confirmer.join(30)
    appender.join(30)
    monkeypatch.setattr(LocalCatalog, "has_unpartitioned_files", orig_scan)
    # whatever the racing confirm saw, the post-append truth must win:
    # the table now HAS unpartitioned files and the migration must run
    assert cat.confirmed_fully_partitioned("t", "month") is False

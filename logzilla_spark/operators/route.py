"""G3 — routing fan-out: parsed records -> per-category sink tables.

The reference routes each raw record to a processor chain keyed by its
source tag (reference: engine/processor.go:84-95) and lands everything
in one table; the graft extends this to fan parsed rows out to one sink
table per parsed ``category`` (SURVEY.md §2.5 G3) with two invariants
(BASELINE.json north_rule):

- set equality: union of all sinks == the parsed record set;
- disjointness: sinks are pairwise disjoint on ``id``.

Single-pass guarantee: the parsed DataFrame is written exactly once, as
one category-partitioned staging write whose per-category directories
each sink commits metadata-only — upstream parse/enrich run once no
matter how many categories exist, with no cache to own or release.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import CATEGORIES
from ..sources.catalog import LocalCatalog


def sink_name(category: str) -> str:
    return f"sink_{category}"


def write_partitioned_tables(
    df: DataFrame,
    catalog: LocalCatalog,
    partition_col: str,
    table_for,
    values: list[str],
    summary_for=None,
    cluster_by: list[str] | None = None,
    overwrite: bool = False,
) -> dict[str, int]:
    """ONE ``partitionBy`` write fanning rows out to many tables.

    The upstream plan executes exactly once; the writer splits rows
    into ``<partition_col>=<v>/`` directories as a side effect of the
    single write, and each table then commits its directory's files
    metadata-only (Iceberg ``add_files`` analog) — no cache build, no
    per-value re-scan, no second data pass. This is the fan-out shape
    that survives 100 TB: N destination tables cost one shuffle-free
    write, not N jobs.

    Every table commits the writer's schema (``df.schema``), as
    ``append``/``overwrite`` do, so its reads apply that schema, infer
    none from footers, and present the columns in ``df``'s order with
    ``partition_col`` filled from the directory.

    Returns {value: snapshot_id}. Appending, values absent from the
    data still get a (file-less) snapshot so the table exists; the
    appended files stay in the shared staging directory.
    ``overwrite=True`` instead replaces each table's content with its
    directory's files, which the table takes over (they move into its
    data dir, see ``LocalCatalog.overwrite_from_files``, so expiring
    the snapshot deletes them); a value that got no rows is not
    committed (no read can serve a table overwritten to no files) and
    is absent from the result.
    """
    import glob
    import os
    import shutil
    import uuid as _uuid

    staging = os.path.join(catalog.warehouse, "_routed", _uuid.uuid4().hex)
    schema_json = df.schema.json()
    commit = catalog.overwrite_from_files if overwrite else catalog.append_external
    if cluster_by:
        # opt-in data clustering (the MergeTree ORDER BY / Iceberg
        # write.sort-order analog — see LocalCatalog._stage_write):
        # range-partition on (partition_col, *cluster_by) so each task
        # owns one destination's contiguous key slice, then sort. Costs
        # ONE range exchange at write time; buys disjoint parquet
        # min/max footers per file, i.e. file/row-group skipping for
        # every future range read (the search path's mandatory ts
        # range). Without it the write is shuffle-free.
        df = df.repartitionByRange(
            partition_col, *cluster_by
        ).sortWithinPartitions(partition_col, *cluster_by)
    df.write.partitionBy(partition_col).parquet(staging)
    snaps: dict[str, int] = {}
    for v in values:
        files = sorted(
            glob.glob(os.path.join(staging, f"{partition_col}={v}", "*.parquet"))
        )
        if overwrite and not files:
            continue
        summary = summary_for(v) if summary_for else {}
        snaps[v] = commit(
            table_for(v), files, base_path=staging, summary=summary,
            schema_json=schema_json,
        )
    if overwrite:
        shutil.rmtree(staging, ignore_errors=True)  # markers + empty dirs
    return snaps


def category_last(records: DataFrame) -> DataFrame:
    """The sink column order: ``category`` last, where a read of the
    ``partitionBy`` directories has always put it. The sinks commit the
    writer's schema, so the writer's frame fixes their read order."""
    return records.select(
        *[c for c in records.columns if c != "category"], "category"
    )


def sinks_with_files(
    catalog: LocalCatalog, categories: list[str] | None = None
) -> list[str]:
    """The categories whose sink's head snapshot holds data files (a
    category that saw no rows yet has none, or no sink at all)."""
    out = []
    for c in categories or CATEGORIES:
        name = sink_name(c)
        sid = catalog.last_snapshot_id(name)
        if sid is not None and any(g["files"] for g in catalog._groups(name, sid)):
            out.append(c)
    return out


def route_to_sinks_single_pass(
    records: DataFrame,
    catalog: LocalCatalog,
    categories: list[str] | None = None,
    run_id: str | None = None,
    summary_extra: dict | None = None,
    cluster_by: list[str] | None = None,
) -> dict[str, int]:
    """True single-pass fan-out to the per-category sinks (G3).

    ``cluster_by=["source", "timestamp"]`` additionally clusters each
    sink's files on the reference's MergeTree sort key (one range
    exchange; see write_partitioned_tables)."""
    categories = categories or CATEGORIES
    return write_partitioned_tables(
        category_last(records),
        catalog,
        "category",
        sink_name,
        categories,
        summary_for=lambda c: {
            "run_id": run_id, "category": c, **(summary_extra or {})
        },
        cluster_by=cluster_by,
    )


def read_routed(
    spark: SparkSession, catalog: LocalCatalog, snaps: dict[str, int]
) -> DataFrame | None:
    """The rows one routing write committed (``snaps`` as
    ``route_to_sinks_single_pass`` returned it, or a subset): each sink
    snapshot's newest append group, under the schema the write
    recorded on every sink. None when those sinks got no rows."""
    sinks = [(sink_name(c), sid) for c, sid in snaps.items()]
    groups = [catalog._groups(t, sid)[-1] for t, sid in sinks]
    if not any(g["files"] for g in groups):
        return None
    return catalog._read_groups(spark, groups, catalog._schema_json_at(*sinks[0]))


def read_sinks(
    spark: SparkSession, catalog: LocalCatalog, categories: list[str]
) -> DataFrame:
    """Union of the sinks of ``categories``, each holding rows (see
    ``sinks_with_files``): one scan per sink."""
    dfs = [catalog.read(spark, sink_name(c)) for c in categories]
    if not dfs:
        raise ValueError("no sinks committed")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def read_all_sinks(
    spark: SparkSession, catalog: LocalCatalog, categories: list[str] | None = None
) -> DataFrame:
    """Union of every sink table that holds rows (for the
    set-equality invariant): one scan per sink."""
    return read_sinks(spark, catalog, sinks_with_files(catalog, categories))

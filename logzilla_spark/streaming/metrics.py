"""Streaming metric histograms: live per-key series with EXACT
quantiles, maintained from the stream.

The dashboard problem: counts are trivially mergeable (the agg sink),
but p50/p95 are not — you cannot merge two quantiles. The mergeable
artifact IS the value histogram (operators/metrics.py
``metrics_from_histogram``): histograms union by summing counts per
(key, bucket, value) cell, so each micro-batch folds its own epoch
histogram additively into a committed ``stream_metrics`` table and the
read side serves cnt/sum/min/max/avg + exact rational-rank quantiles
from it — landing the batch operator's EXACT output (ints and the one
IEEE avg division) regardless of trigger splits.

Scale shape (the stream_agg playbook): the table is time-partitioned
(``metric_month``); each epoch rewrites ONLY the partitions holding
its changed buckets (catalog.overwrite_partitions — every other
month's files carry over metadata-only), and the in-partition merge is
one additive groupBy at histogram grain. State is bounded by distinct
(key, bucket, value) — for the bounded-cardinality fields this layer
targets (sizes, latencies, statuses) that is histogram scale, not
corpus scale; an unbounded-cardinality value column belongs in a
sketch, not here (documented, not silently wrong).

Exactly-once via the shared committed map — load-bearing (additive
merge; a replayed epoch would double-count without it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from logzilla_spark.operators.metrics import (
    DEFAULT_QUANTILES,
    metrics_from_histogram,
)
from logzilla_spark.sources.catalog import LocalCatalog
from logzilla_spark.streaming.stream_pipeline import (
    _committed_map,
    _summary_at_publish,
    _upsert_lock,
    stream_pages,
)

METRICS_TABLE = "stream_metrics"
_GRAIN = ["key", "bucket", "v"]


def _epoch_histogram(
    records: DataFrame,
    value_col: str,
    key_col: str,
    ts_col: str = "timestamp",
    bucket: str = "hour",
) -> DataFrame:
    """One epoch's records -> (key, bucket, v, c) histogram delta —
    the same projection/exclusion contract as extract_metrics."""
    return (
        records.select(
            F.col(key_col).alias("key"),
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
            F.col(value_col).try_cast("bigint").alias("v"),
        )
        .where(
            F.col("key").isNotNull()
            & F.col("bucket").isNotNull()
            & F.col("v").isNotNull()
        )
        .groupBy(*_GRAIN)
        .agg(F.count(F.lit(1)).alias("c"))
    )


def upsert_metrics_batch(
    spark: SparkSession,
    cat: LocalCatalog,
    records: DataFrame,
    batch_id: int,
    value_col: str,
    key_col: str,
    ts_col: str = "timestamp",
    bucket: str = "hour",
    query_id: str = "metrics",
    table: str = METRICS_TABLE,
) -> bool:
    """Fold one epoch's histogram additively into the committed table.

    Only the months containing this epoch's buckets are read, merged
    (sum of counts per cell) and rewritten; every other month carries
    over metadata-only. Returns False for a replayed epoch."""
    with _upsert_lock(cat, table):
        committed = _committed_map(cat, table)
        if committed.get(query_id, -1) >= batch_id:
            return False
        delta = _epoch_histogram(
            records, value_col, key_col, ts_col, bucket
        ).withColumn("metric_month", F.date_format("bucket", "yyyyMM"))
        months = [
            r.metric_month
            for r in delta.select("metric_month").distinct().collect()
        ]
        if not months:
            # empty epoch: advance the committed map (replay detection)
            # with a METADATA-ONLY commit — an empty parquet append
            # would land an unpartitioned file in the partitioned
            # layout and poison the fully-partitioned verdict forever
            cat.append_external(
                table, [], base_path=cat._data_dir(table),
                summary=_summary_at_publish(cat, table, query_id, batch_id),
            )
            return True
        old = cat.read_partitions(spark, table, "metric_month", months)
        if old is not None:
            old = old.withColumn(
                "metric_month", F.col("metric_month").cast("string")
            )
            merged = (
                old.unionByName(delta)
                .groupBy(*_GRAIN, "metric_month")
                .agg(F.sum("c").alias("c"))
            )
        else:
            merged = delta
        cat.overwrite_partitions(
            merged, table, "metric_month", months,
            summary=_summary_at_publish(cat, table, query_id, batch_id),
        )
        return True


def read_metric_series(
    spark: SparkSession,
    cat: LocalCatalog,
    quantiles: dict[str, tuple[int, int]] = DEFAULT_QUANTILES,
    table: str = METRICS_TABLE,
) -> DataFrame:
    """The live dashboard read: exact per-(key, bucket) series from
    the committed histogram — identical output to batch
    extract_metrics over the same records (differentially tested)."""
    return metrics_from_histogram(
        cat.read(spark, table).select(*_GRAIN, "c"), quantiles
    )


def start_metrics_stream(
    spark: SparkSession,
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    value_col: str = "m_size",
    key_col: str = "source",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """pages stream -> parse -> per-epoch histogram fold. The default
    (source, m_size) pair is the registered q_log_metrics shape, so
    the stream's read side is directly comparable to the batch
    operator and its DuckDB oracle."""
    from logzilla_spark.operators.parse import parse_records

    cat = LocalCatalog(warehouse)
    records = parse_records(stream_pages(spark, pages_dir, max_files_per_trigger))
    flat = records.select(
        "timestamp",
        F.col("source"),
        F.col("metadata")["size"].alias("m_size"),
    )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        upsert_metrics_batch(
            batch.sparkSession, cat, batch, batch_id, value_col, key_col
        )

    writer = (
        flat.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

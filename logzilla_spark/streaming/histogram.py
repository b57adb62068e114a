"""Streaming quantile maintenance: a live latency/size percentile
dashboard over the tail-follow pipeline, with bounded state by
construction.

The batch histogram sketch (operators/sketches.py hist_counts) is
mergeable — bucket counters SUM — so streaming maintenance is one fold
per epoch: each micro-batch's records collapse to their own bucket
deltas (O(octaves x 32) rows per key regardless of batch size), and
the sink sum-merges them into the committed ``stream_hist`` counter
table. Like the HLL table (streaming/sketch.py) the counter table is
SKETCH-SIZED FOREVER, so the per-epoch read-merge-overwrite is
O(sketch), not O(history) — no watermark, no eviction, by
construction.

One contract difference from the HLL sink is worth stating: register
max-merge is idempotent, so a replayed epoch there is harmless even
without the guard — bucket SUM-merge is NOT (a replay would double
count). The committed-map bookkeeping (query_id -> max batch_id,
checked inside the upsert lock) is therefore load-bearing here, not
just history hygiene; the replay test pins it.

Quantiles are read through ``hist_quantiles_from_counts``, so a
streamed sketch's estimates are BIT-IDENTICAL to the batch operator
over the same records — differentially tested across multi-trigger
runs. The reference has no approximate layer; this composes the
sketch brief with the reference's operating mode (tail a source, keep
a live aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from logzilla_spark.operators.parse import parse_records
from logzilla_spark.operators.sketches import (
    hist_counts,
    hist_quantiles_from_counts,
)
from logzilla_spark.sources.catalog import LocalCatalog
from logzilla_spark.streaming.stream_pipeline import (
    _committed_map,
    _summary_at_publish,
    _upsert_lock,
    stream_pages,
)

HIST_TABLE = "stream_hist"
# response-size percentiles per record category — the classic live
# latency/size dashboard; records without the field are dropped by
# the sketch's NULL filter, not counted as zero
DEFAULT_KEYS = ("category",)
DEFAULT_VALUE_EXPR = "cast(element_at(metadata, 'size') as double)"
DEFAULT_QUANTILES = (0.5, 0.9, 0.99)


def upsert_hist_batch(
    spark: SparkSession,
    cat: LocalCatalog,
    records: DataFrame,
    batch_id: int,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    value_expr: str = DEFAULT_VALUE_EXPR,
    query_id: str = "hist",
    table: str = HIST_TABLE,
) -> bool:
    """Fold one epoch of records into the committed bucket-count table.

    The epoch's own counts are computed first (the only input-sized
    work), then sum-merged with the committed table and atomically
    re-published. Returns False for an already-committed (replayed)
    epoch — REQUIRED for correctness here, since sum-merge would
    double count a replay (see module docstring)."""
    with _upsert_lock(cat, table):
        committed = _committed_map(cat, table)
        if committed.get(query_id, -1) >= batch_id:
            return False
        delta = hist_counts(records, list(keys), value_expr)
        if cat.exists(table) and cat.last_snapshot_id(table) is not None:
            old = cat.read(spark, table)
            merged = (
                old.unionByName(delta)
                .groupBy(*keys, "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        else:
            merged = delta
        cat.overwrite(
            merged,
            table,
            summary=_summary_at_publish(cat, table, query_id, batch_id),
        )
        return True


def read_hist_quantiles(
    spark: SparkSession,
    cat: LocalCatalog,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    quantiles: tuple[float, ...] = DEFAULT_QUANTILES,
    table: str = HIST_TABLE,
) -> DataFrame:
    """(keys..., q, n, est) from the committed streaming counter table
    — the dashboard read, O(sketch)."""
    return hist_quantiles_from_counts(
        cat.read(spark, table), list(keys), list(quantiles)
    )


def start_hist_stream(
    spark: SparkSession,
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    value_expr: str = DEFAULT_VALUE_EXPR,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """pages stream -> parse -> per-epoch bucket fold into the
    committed sketch. No watermark: the sketch never evicts — state
    grows with key cardinality and value RANGE (octaves), never with
    input size."""
    cat = LocalCatalog(warehouse)
    records = parse_records(stream_pages(spark, pages_dir, max_files_per_trigger))

    def _sink(batch: DataFrame, batch_id: int) -> None:
        upsert_hist_batch(
            batch.sparkSession, cat, batch, batch_id,
            keys=keys, value_expr=value_expr,
        )

    writer = (
        records.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

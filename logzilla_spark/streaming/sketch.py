"""Streaming HLL maintenance: a live distinct-cardinality dashboard
over the tail-follow pipeline, with bounded state by construction.

The batch sketch (operators/sketches.py) is mergeable — registers
union with max(rho) — which makes streaming maintenance trivially
exactly-once: each micro-batch's records fold into their own register
deltas (<= m rows per key regardless of batch size), and the sink
max-merges them into the committed ``stream_hll`` register table.
Unlike the windowed agg table (which grows with time and therefore
needs month-partitioned keyed merges), the register table is
SKETCH-SIZED FOREVER (n_keys x m rows), so a full read-merge-overwrite
per epoch is O(sketch), not O(history) — that bound is the point of
the sketch.

Exactly-once: the same committed-map bookkeeping as the agg sink
(query_id -> max batch_id in snapshot summaries); a replayed epoch
max-merges idempotently ANYWAY (max is idempotent), but the guard
keeps snapshot history honest. Estimates are read through
``operators.sketches.hll_estimate_from_registers``, so a streamed
sketch's estimate is BIT-IDENTICAL to the batch operator over the
same records — differentially tested across multi-trigger runs.

The reference has no approximate layer; this composes the sketch
brief with the reference's operating mode (tail a source, keep a
live aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from logzilla_spark.operators.parse import parse_records
from logzilla_spark.operators.sketches import (
    hll_estimate_from_registers,
    hll_registers,
)
from logzilla_spark.sources.catalog import LocalCatalog
from logzilla_spark.streaming.stream_pipeline import (
    _committed_map,
    _summary_at_publish,
    _upsert_lock,
    stream_pages,
)

HLL_TABLE = "stream_hll"
# distinct client addresses per record category — the classic live
# log-analytics cardinality; rows without the field simply don't
# contribute (NULL hashes are filtered, not counted as a value)
DEFAULT_KEYS = ("category",)
DEFAULT_VALUE_EXPR = "element_at(metadata, 'ip')"


def upsert_hll_batch(
    spark: SparkSession,
    cat: LocalCatalog,
    records: DataFrame,
    batch_id: int,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    value_expr: str = DEFAULT_VALUE_EXPR,
    query_id: str = "hll",
    table: str = HLL_TABLE,
) -> bool:
    """Fold one epoch of records into the committed register table.

    The epoch's own registers are computed first (the only input-sized
    work; <= m rows per key survive it), then max-merged with the
    committed table and atomically re-published. Returns False for an
    already-committed (replayed) epoch."""
    with _upsert_lock(cat, table):
        committed = _committed_map(cat, table)
        if committed.get(query_id, -1) >= batch_id:
            return False
        delta = hll_registers(
            records.filter(F.expr(f"({value_expr}) IS NOT NULL")),
            list(keys),
            value_expr,
        )
        if cat.exists(table) and cat.last_snapshot_id(table) is not None:
            old = cat.read(spark, table)
            merged = (
                old.unionByName(delta)
                .groupBy(*keys, "register")
                .agg(F.max("rho").alias("rho"))
            )
        else:
            merged = delta
        cat.overwrite(
            merged,
            table,
            summary=_summary_at_publish(cat, table, query_id, batch_id),
        )
        return True


def read_hll_distinct(
    spark: SparkSession,
    cat: LocalCatalog,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    table: str = HLL_TABLE,
) -> DataFrame:
    """(keys..., n_registers, v_zero, est_distinct) from the committed
    streaming register table — the dashboard read, O(sketch)."""
    return hll_estimate_from_registers(cat.read(spark, table), list(keys))


def start_hll_stream(
    spark: SparkSession,
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    value_expr: str = DEFAULT_VALUE_EXPR,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """pages stream -> parse -> per-epoch register fold into the
    committed sketch. No watermark needed: the sketch never evicts —
    its state does not grow with input, only with key cardinality."""
    cat = LocalCatalog(warehouse)
    records = parse_records(stream_pages(spark, pages_dir, max_files_per_trigger))

    def _sink(batch: DataFrame, batch_id: int) -> None:
        upsert_hll_batch(
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

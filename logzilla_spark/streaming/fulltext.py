"""Live searchable log store: the reference's end goal composed from
this engine's committed pieces — tail a source, parse, commit the
records to a catalog table AND incrementally maintain the committed
full-text index (T27), each exactly-once; searches are served entirely
from the committed tables with manifest pruning.

Two tables, one epoch, per-table exactly-once: the records append and
the postings append each carry their own committed-map bookkeeping
(query_id -> max batch_id), checked-and-published under that table's
upsert lock. A crash BETWEEN the two appends is healed by replay: the
records guard refuses the duplicate, the postings guard sees its own
map still missing the epoch and applies it — the pair converges
without a cross-table transaction (the same per-sink idempotence
argument as the routing ledger). Both appends would DOUBLE data on a
replay without their guard (appends are not idempotent), so the guards
are load-bearing — pinned by the crash-between test.

Serving: ``search_live`` reads the committed records table and answers
through ``serve_fulltext`` — the posting files are pruned to the query
tokens via manifest stats, and the records side is the snapshot-
isolated committed table (readers never see a half-committed epoch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from logzilla_spark.operators.fulltext import (
    POSTINGS_SUFFIX,
    build_inverted_index,
    serve_fulltext,
)
from logzilla_spark.operators.parse import parse_records
from logzilla_spark.sources.catalog import LocalCatalog
from logzilla_spark.streaming.stream_pipeline import (
    _committed_map,
    _summary_at_publish,
    _upsert_lock,
    stream_pages,
)

RECORDS_TABLE = "search_records"
INDEX_NAME = "search"  # postings table = search__postings


def upsert_search_batch(
    spark: SparkSession,
    cat: LocalCatalog,
    records: DataFrame,
    batch_id: int,
    query_id: str = "search",
    records_table: str = RECORDS_TABLE,
    index_name: str = INDEX_NAME,
) -> tuple[bool, bool]:
    """Commit one epoch into (records table, postings table) — each
    append guarded by ITS OWN committed map, so any replay after any
    crash point converges (see module docstring). Returns
    (records_applied, postings_applied)."""
    # Materialize the epoch once: both appends consume the same parsed
    # frame; without this the postings append re-runs the parse.
    records = records.persist()
    try:
        rec_applied = False
        with _upsert_lock(cat, records_table):
            if _committed_map(cat, records_table).get(query_id, -1) < batch_id:
                cat.append(
                    records,
                    records_table,
                    summary=_summary_at_publish(
                        cat, records_table, query_id, batch_id
                    ),
                )
                rec_applied = True
        postings_table = index_name + POSTINGS_SUFFIX
        post_applied = False
        with _upsert_lock(cat, postings_table):
            if _committed_map(cat, postings_table).get(query_id, -1) < batch_id:
                cat.append(
                    build_inverted_index(records),
                    postings_table,
                    cluster_by=["token"],
                    summary=_summary_at_publish(
                        cat, postings_table, query_id, batch_id
                    ),
                )
                post_applied = True
        return rec_applied, post_applied
    finally:
        records.unpersist()


def search_live(
    spark: SparkSession,
    cat: LocalCatalog,
    query: str,
    records_table: str = RECORDS_TABLE,
    index_name: str = INDEX_NAME,
) -> DataFrame:
    """Full-text search over everything committed so far — records from
    the snapshot-isolated table, postings reads pruned to the query
    tokens by manifest stats."""
    return serve_fulltext(
        spark, cat, index_name, cat.read(spark, records_table), query
    )


def start_search_stream(
    spark: SparkSession,
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """pages stream -> parse -> committed records + live fulltext index."""
    cat = LocalCatalog(warehouse)
    records = parse_records(stream_pages(spark, pages_dir, max_files_per_trigger))

    def _sink(batch: DataFrame, batch_id: int) -> None:
        upsert_search_batch(batch.sparkSession, cat, batch, batch_id)

    writer = (
        records.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Structured Streaming pipeline: the reference's live ingest loop.

The reference tails a file with fsnotify and pushes each appended line
through channels into a buffered batch sink (reference:
source/file.go:52-126 tail loop, engine/orchestrator.go:70-131 engine
loop, engine/storage.go:49-125 size/interval flush). This module is the
Spark-native equivalent:

- ``stream_pages``: a checkpointed file-stream source over the pages
  directory. New parquet files appearing in the directory play the role
  of appended lines; Spark's checkpointed file offsets ARE the
  seek-to-end semantics (source/file.go:59-64) — a restarted query
  ingests only not-yet-seen files, exactly like the reference's
  start-at-EOF but without the rotation bug (source/file.go:88-98).
- the parse/enrich stages are the SAME operators as the batch path
  (stateless narrow transforms work unchanged on streaming frames);
- ``start_routing_stream``: micro-batch fan-out to per-category sinks
  via foreachBatch. Each (query_id, batch_id) commit is recorded in the
  sink's snapshot summary, so a replayed epoch after a crash is
  detected and skipped — upgrading the reference's at-most-once buffer
  flush (a failed insert drops the batch, engine/storage.go:95-98) to
  exactly-once.
- ``streaming_windowed_counts`` / ``start_agg_stream``: event-time
  tumbling-window counts with a watermark — the late-data handling the
  reference lacks entirely (SURVEY.md §2.4). Update-mode upserts keep
  the agg table correct as late rows arrive within the watermark.

The flush knobs map 1:1: raw/processed buffer sizes (README.md:161-167)
-> ``maxFilesPerTrigger``; ``storage_flush_interval: 1s`` ->
``trigger(processingTime=...)``; one Iceberg/snapshot commit per flush
either way.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.aggregate import DEFAULT_WINDOW
from ..operators.parse import parse_records
from ..schemas import CATEGORIES, PAGES_SCHEMA
from ..sources.catalog import LocalCatalog, SnapshotError

AGG_KEYS = ["window_start", "window_end", "category", "level"]


def stream_pages(
    spark: SparkSession,
    pages_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Checkpointed streaming source over a directory of pages parquet.

    ``max_files_per_trigger`` is the ingest-buffer knob (the analog of
    raw_logs_buffer_size, README.md:162-163): it bounds micro-batch
    size so one flush never exceeds executor memory at scale.
    """
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir)


def streaming_windowed_counts(
    records: DataFrame, watermark: str = "10 minutes", window: str = DEFAULT_WINDOW
) -> DataFrame:
    """Watermarked event-time tumbling-window counts.

    Same result columns as the batch ``windowed_counts`` so the two
    paths are differentially testable. The watermark bounds state:
    windows older than (max event time - watermark) are finalized and
    their state evicted — mandatory at 10^12-document scale.
    """
    return (
        records.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", window).alias("w"), "category", "level")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "category",
            "level",
            "n",
        )
    )


def _committed_map(cat: LocalCatalog, table: str) -> dict[str, int]:
    """Latest committed batch id per streaming query, from the snapshot
    head. Every streaming commit carries a CUMULATIVE ``committed`` map
    in its summary, so on the steady path this reads exactly ONE
    snapshot summary — O(1) per micro-batch regardless of table age.
    The walk below only runs across snapshots written by non-streaming
    paths (batch appends carry no map) or pre-map history, and stops at
    the first cumulative map it finds. Stopping is sound because every
    streaming commit builds its map INSIDE the catalog's commit
    critical section (_summary_at_publish), so the newest map can never
    be stale for a concurrently-committing query."""
    merged: dict[str, int] = {}
    sid = cat.last_snapshot_id(table)
    while sid is not None and sid >= 1:
        try:
            s = cat.snapshot_summary(table, sid)
        except SnapshotError:
            # history below this point was expired (expire_snapshots);
            # sound to stop because every live commit carries the
            # cumulative map forward (catalog._commit), so anything a
            # deleted manifest knew is present in a surviving one above
            break
        if (
            s.get("query_id") is not None
            and s.get("batch_id") is not None
            and s["query_id"] not in merged
        ):
            merged[s["query_id"]] = int(s["batch_id"])
        if "committed" in s:
            for q, b in s["committed"].items():
                if q not in merged:
                    merged[q] = int(b)
            break  # cumulative — nothing older can supersede it
        sid -= 1
    return merged


def _committed_summary(
    committed: dict[str, int], query_id: str, batch_id: int
) -> dict:
    """Snapshot summary for a streaming commit: the per-epoch identity
    plus the cumulative head pointer (see _committed_map)."""
    return {
        "query_id": query_id,
        "batch_id": batch_id,
        "committed": {**committed, query_id: batch_id},
    }


def _summary_at_publish(cat: LocalCatalog, table: str, query_id: str, batch_id: int):
    """Publish-time summary builder (passed as a callable; the catalog
    resolves it inside its commit critical section). The cumulative map
    is re-read from the TRUE predecessor snapshot there, so a commit by
    another query between this epoch's start and its publish cannot be
    shadowed by a map read at epoch start — the head map stays
    complete, which is what lets _committed_map stop at the first
    cumulative map it sees."""
    return lambda: _committed_summary(_committed_map(cat, table), query_id, batch_id)


def _already_committed(cat: LocalCatalog, table: str, query_id: str, batch_id: int) -> bool:
    return _committed_map(cat, table).get(query_id, -1) >= batch_id


def route_batch(
    batch: DataFrame,
    cat: LocalCatalog,
    query_id: str,
    batch_id: int,
    categories: tuple[str, ...] | None = None,
) -> dict[str, int]:
    """Fan one micro-batch of records out to the per-category sinks.

    Exactly-once: skips categories whose sink already has a commit for
    this (query_id, batch_id) — foreachBatch replays an epoch after a
    crash, and blind re-append would double rows (the failure mode the
    reference accepts at engine/storage.go:95-98).

    Single-pass: the SAME ``write_partitioned_tables`` writer as the
    batch path — ONE partitionBy(category) write job materializes the
    whole micro-batch, each pending sink commits its partition directory
    metadata-only, and per-sink row counts come from parquet footers
    (zero extra Spark jobs, vs the previous persist + per-category
    filter/append/count N-jobs-per-batch shape).

    ``categories`` defaults to the engine's builtin sink set; a custom
    parser chain passes its own (chain names + 'unparsed') so records a
    user-registered parser claims are routed, not dropped.
    """
    import pyarrow.parquet as pq

    from ..operators.route import category_last, sink_name, write_partitioned_tables

    cats = list(categories) if categories is not None else list(CATEGORIES)
    committed = {c: _committed_map(cat, sink_name(c)) for c in cats}
    pending = [c for c in cats if committed[c].get(query_id, -1) < batch_id]
    routed: dict[str, int] = {c: -1 for c in cats if c not in pending}
    if not pending:
        return routed  # fully replayed epoch
    snaps = write_partitioned_tables(
        category_last(batch), cat, "category", sink_name, pending,
        summary_for=lambda c: _summary_at_publish(
            cat, sink_name(c), query_id, batch_id
        ),
    )
    for c, sid in snaps.items():
        group = cat._groups(sink_name(c), sid)[-1]
        routed[c] = sum(pq.ParquetFile(f).metadata.num_rows for f in group["files"])
    return routed


def start_routing_stream(
    spark: SparkSession,
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    use_html: bool = False,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """pages stream -> parse -> route to per-category sinks.

    ``available_now=True`` drains everything currently in the directory
    then stops (incremental batch cadence); ``False`` runs continuously
    (the reference's live-tail mode).
    """
    cat = LocalCatalog(warehouse)
    pages = stream_pages(spark, pages_dir, max_files_per_trigger)
    records = parse_records(pages, use_html=use_html)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        route_batch(batch, cat, query_id="route", batch_id=batch_id)

    writer = records.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_logfile_routing_stream(
    spark: SparkSession,
    logs_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    chain: tuple[str, ...] = ("access", "json"),
    source: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """RAW LOG FILES -> parser chain -> routed warehouse sinks — the
    reference's entire operating loop (`logzilla -config`: tail files,
    run processors, flush batches to storage) on its native input.

    The source is :func:`..sources.textfiles.text_file_lines_stream`
    (one micro-batch unit per new file; rotation = new path); the
    parse stage is the REGISTRY chain, so user-registered grok /
    pandas / Lua parsers apply on the stream unchanged; the sink is
    the same exactly-once ``route_batch`` the pages stream uses
    (query_id 'route_logs' keeps its commit ledger separate from the
    pages stream's)."""
    from ..operators.parsers import records_from_lines
    from ..sources.textfiles import text_file_lines_stream

    cat = LocalCatalog(warehouse)
    lines = text_file_lines_stream(
        spark, logs_dir, source=source,
        max_files_per_trigger=max_files_per_trigger,
    )
    records = records_from_lines(lines, chain=chain)
    # category values = chain parser names + the never-drop fallback —
    # custom (grok/pandas/Lua) parsers get their own routed sinks
    cats = tuple(dict.fromkeys(tuple(chain) + ("unparsed",)))

    def _sink(batch: DataFrame, batch_id: int) -> None:
        route_batch(
            batch, cat, query_id="route_logs", batch_id=batch_id,
            categories=cats,
        )

    writer = records.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _needs_layout_migration(cat: LocalCatalog, table: str) -> bool:
    # O(1) per micro-batch on the steady path: the catalog caches the
    # fully-partitioned verdict per (warehouse, table) and invalidates
    # it on drop(), so a dropped-and-recreated legacy table is
    # re-checked instead of skipping its migration on a stale cache.
    return not cat.confirmed_fully_partitioned(table, "agg_month")


# One upsert at a time per (warehouse, table): the read-merge-commit in
# upsert_agg_batch is a data-level read-modify-write — two queries
# upserting the SAME table concurrently would each read partition state
# at the same snapshot, merge only their own batch, and the second
# commit's overwrite_partitions would replace the first's files,
# silently losing its rows (the catalog's _COMMIT_LOCK serializes only
# the manifest RMW, not the data merge). Lock scope is in-process, the
# same scope as every other guarantee of the local-FS catalog.
_UPSERT_LOCKS: dict[tuple[str, str], threading.Lock] = {}
_UPSERT_LOCKS_GUARD = threading.Lock()


def _upsert_lock(cat: LocalCatalog, table: str) -> threading.Lock:
    with _UPSERT_LOCKS_GUARD:
        return _UPSERT_LOCKS.setdefault(
            (cat.warehouse, table), threading.Lock()
        )


def upsert_agg_batch(
    spark: SparkSession,
    cat: LocalCatalog,
    batch: DataFrame,
    batch_id: int,
    query_id: str = "agg",
    table: str = "stream_agg",
) -> bool:
    """Keyed-merge one epoch of changed windows into the agg table.

    The table is partitioned by window month (``agg_month``); only the
    partitions containing this epoch's changed windows are read,
    merged, and rewritten — every other month's files carry over into
    the new snapshot untouched (catalog.overwrite_partitions). Returns
    False for an already-committed (replayed) epoch.

    Serialized per (warehouse, table): see _upsert_lock — the whole
    read-merge-commit is a data-level RMW, so concurrent upserts of
    one table from different queries would lose rows without it.
    """
    with _upsert_lock(cat, table):
        return _upsert_agg_batch_locked(spark, cat, batch, batch_id, query_id, table)


def _upsert_agg_batch_locked(
    spark: SparkSession,
    cat: LocalCatalog,
    batch: DataFrame,
    batch_id: int,
    query_id: str,
    table: str,
) -> bool:
    committed = _committed_map(cat, table)
    if committed.get(query_id, -1) >= batch_id:
        return False
    batch = batch.withColumn("agg_month", F.date_format("window_start", "yyyyMM"))
    if _needs_layout_migration(cat, table):
        # One-time migration: a table written by the pre-partitioned
        # code has files outside agg_month= directories (and no
        # agg_month column). A partition-scoped overwrite would carry
        # them forever — invisible to the month-token pruning, clashing
        # on schema at read, double-counting revised windows. Rewrite
        # the WHOLE table once into the partitioned layout, merged with
        # this epoch; every later epoch takes the keyed path. The two
        # layouts are read SEPARATELY (mixed tables exist when keyed
        # epochs already ran against a legacy table): the partitioned
        # side is newer by construction, so where both hold a window
        # key the partitioned row wins and the stale legacy row drops.
        part, legacy = cat.read_layout_split(spark, table, "agg_month")
        legacy = (
            legacy.withColumn("agg_month", F.date_format("window_start", "yyyyMM"))
            if legacy is not None
            else None
        )
        if part is not None:
            part = part.withColumn("agg_month", F.col("agg_month").cast("string"))
            whole = (
                part
                if legacy is None
                else legacy.join(
                    part.select(*AGG_KEYS), AGG_KEYS, "left_anti"
                ).unionByName(part)
            )
        else:
            whole = legacy
        merged = whole.join(
            batch.select(*AGG_KEYS), AGG_KEYS, "left_anti"
        ).unionByName(batch)
        cat.overwrite(
            merged,
            table,
            partition_by=["agg_month"],
            summary=_summary_at_publish(cat, table, query_id, batch_id),
        )
        # warms the catalog's fully-partitioned cache (one manifest
        # scan over the freshly-migrated table)
        cat.confirmed_fully_partitioned(table, "agg_month")
        return True
    # the changed-window month set is tiny (one or two entries per
    # epoch under any sane watermark) — driver-side by construction
    months = [r.agg_month for r in batch.select("agg_month").distinct().collect()]
    old = cat.read_partitions(spark, table, "agg_month", months)
    if old is not None:
        # partition-column type inference reads agg_month back as int;
        # re-cast so the union with this epoch's string column is exact
        old = old.withColumn("agg_month", F.col("agg_month").cast("string"))
        merged = old.join(
            batch.select(*AGG_KEYS), AGG_KEYS, "left_anti"
        ).unionByName(batch)
    else:
        merged = batch
    cat.overwrite_partitions(
        merged,
        table,
        "agg_month",
        months,
        summary=_summary_at_publish(cat, table, query_id, batch_id),
    )
    return True


def start_agg_stream(
    spark: SparkSession,
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """pages stream -> parse -> watermarked windowed counts, upserted.

    Update output mode: each epoch emits only windows whose counts
    changed; the sink upserts them into the ``stream_agg`` table by
    (window, category, level) key via a KEYED MERGE: the table is
    partitioned by window month (``agg_month``, the months(warc_ts)
    layout every other sink already uses) and each epoch rewrites ONLY
    the partitions containing its changed windows — all other months
    carry over metadata-only (catalog.overwrite_partitions). The
    previous shape (read whole table -> anti-join -> full overwrite)
    was O(table) I/O per micro-batch: at scale each epoch re-wrote all
    of aggregate history to touch a handful of windows. Late rows
    within the watermark revise their window; rows later than the
    watermark are dropped — defined semantics where the reference has
    none.
    """
    cat = LocalCatalog(warehouse)
    pages = stream_pages(spark, pages_dir)
    records = parse_records(pages)
    agg = streaming_windowed_counts(records, watermark=watermark)

    def _upsert(batch: DataFrame, batch_id: int) -> None:
        upsert_agg_batch(batch.sparkSession, cat, batch, batch_id)

    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

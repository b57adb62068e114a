"""Continuous alert evaluation: threshold rules over windowed counts.

The alerting layer every log engine pairs with its aggregation surface
(Grafana/Loki alert rules, Elastic watcher, Splunk saved-search
alerts): declarative threshold rules — "fire when a window's count for
(category, level) reaches N" — evaluated continuously against the
update-mode windowed-count stream, landing each firing EXACTLY ONCE in
a committed alert ledger.

Design (Spark-first, scale-first):

- **Evaluation cost is O(changed windows), never O(history).** The
  update-mode stream already emits only windows whose counts changed
  this trigger, carrying the window's NEW TOTAL count (the agg state
  holds totals), so rule evaluation is a pure projection+filter over
  the epoch's delta — no table rescan, no extra aggregation.
- **Rules join, not rule loops.** The rule set is a tiny broadcast
  frame joined with NULL-wildcard match conditions; one pass evaluates
  every rule (a per-rule filter loop would scan the delta per rule).
- **At-most-once firing per alert identity** (rule, window, key): a
  window's count only grows as late data arrives, so the FIRST epoch
  in which it reaches the threshold fires; later revisions of the same
  window anti-join away against the ledger.
- **Exactly-once ledger.** Same committed-map discipline as every
  other sink (stream_pipeline._committed_map): a replayed epoch is
  recognized and skipped whole, and the in-epoch anti-join dedups
  against crashes between evaluate and commit.

The batch twin (``evaluate_alerts`` over batch ``windowed_counts``) is
the differential oracle: a stream split across arbitrary triggers must
land exactly the batch alert set.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import LocalCatalog

__all__ = [
    "AlertRule",
    "evaluate_alerts",
    "alert_batch",
    "start_alert_stream",
    "start_logfile_alert_stream",
    "anomaly_alert_batch",
    "start_anomaly_alert_stream",
    "ALERT_KEYS",
    "ANOMALY_ALERT_KEYS",
]

# alert identity: one firing per rule per window per key
ALERT_KEYS = ["rule_name", "window_start", "window_end", "category", "level"]


@dataclass(frozen=True)
class AlertRule:
    """Threshold rule: fire when a window's count for the matched key
    reaches ``min_count``. ``category`` / ``level`` = None is a
    wildcard (matches every value)."""

    name: str
    min_count: int
    category: str | None = None
    level: str | None = None

    def __post_init__(self):
        if self.min_count < 1:
            raise ValueError(f"rule {self.name!r}: min_count must be >= 1")


def _rules_df(spark: SparkSession, rules: list[AlertRule]) -> DataFrame:
    if not rules:
        raise ValueError("evaluate_alerts: empty rule set")
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {sorted(names)}")
    # pure-literal frame (constant-folds to a LocalRelation) instead of
    # createDataFrame: no Python-RDD backing, so alert evaluation plans
    # stay 100% JVM-side like every other registered query
    entries = F.array(
        *[
            F.struct(
                F.lit(r.name).alias("rule_name"),
                F.lit(r.min_count).cast("bigint").alias("min_count"),
                F.lit(r.category).cast("string").alias("r_category"),
                F.lit(r.level).cast("string").alias("r_level"),
            )
            for r in rules
        ]
    )
    return (
        spark.range(1).select(F.explode(entries).alias("_r")).select("_r.*")
    )


def evaluate_alerts(agg: DataFrame, rules: list[AlertRule]) -> DataFrame:
    """Firing alerts for a windowed-counts frame (batch or one epoch).

    Input shape: ``window_start, window_end, category, level, n`` (the
    shared batch/streaming aggregate columns). One broadcast join
    evaluates the whole rule set in one pass; NULL rule fields are
    wildcards. Output: ALERT_KEYS + ``n`` (the count that tripped the
    rule) + ``min_count``.
    """
    r = _rules_df(agg.sparkSession, rules)
    cond = (
        (F.col("r_category").isNull() | (F.col("r_category") == F.col("category")))
        & (F.col("r_level").isNull() | (F.col("r_level") == F.col("level")))
        & (F.col("n") >= F.col("min_count"))
    )
    return agg.join(F.broadcast(r), cond, "inner").select(
        *ALERT_KEYS, "n", "min_count"
    )


def alert_batch(
    cat: LocalCatalog,
    batch: DataFrame,
    batch_id: int,
    rules: list[AlertRule],
    query_id: str = "alerts",
    table: str = "stream_alerts",
) -> bool:
    """Evaluate one epoch's changed windows and append NEW firings.

    Returns False for an already-committed (replayed) epoch. The
    ledger append always commits — even an epoch with zero new
    firings — so the committed map advances and a replay is
    recognizable.
    """
    from .stream_pipeline import _committed_map, _summary_at_publish, _upsert_lock

    spark = batch.sparkSession
    with _upsert_lock(cat, table):
        committed = _committed_map(cat, table)
        if committed.get(query_id, -1) >= batch_id:
            return False
        fired = evaluate_alerts(batch, rules)
        if cat.exists(table):
            ledger = cat.read(spark, table).select(*ALERT_KEYS)
            fired = fired.join(ledger, ALERT_KEYS, "left_anti")
        cat.append(
            fired,
            table,
            summary=_summary_at_publish(cat, table, query_id, batch_id),
        )
        return True


def start_alert_stream(
    spark: SparkSession,
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    rules: list[AlertRule],
    watermark: str = "10 minutes",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """pages stream -> parse -> windowed counts -> alert ledger.

    The reference's operating mode with alerting attached: update-mode
    windowed counts feed ``alert_batch`` per trigger; the ledger table
    ``stream_alerts`` accumulates each firing exactly once.
    """
    from ..operators.parse import parse_records
    from .stream_pipeline import stream_pages, streaming_windowed_counts

    cat = LocalCatalog(warehouse)
    records = parse_records(stream_pages(spark, pages_dir, max_files_per_trigger))
    agg = streaming_windowed_counts(records, watermark=watermark)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        alert_batch(cat, batch, batch_id, rules)

    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_logfile_alert_stream(
    spark: SparkSession,
    logs_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    rules: list[AlertRule],
    chain: tuple[str, ...] = ("access", "json"),
    watermark: str = "10 minutes",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Alerting on the reference's native input: raw log files ->
    registry parser chain -> windowed counts -> exactly-once alert
    ledger. The same source/chain as the tail-follow routing loop, so
    one `-config` deployment can run both (separate checkpoints; the
    ledger table keeps its own committed map)."""
    from ..operators.parsers import records_from_lines
    from ..sources.textfiles import text_file_lines_stream
    from .stream_pipeline import streaming_windowed_counts

    cat = LocalCatalog(warehouse)
    lines = text_file_lines_stream(
        spark, logs_dir, max_files_per_trigger=max_files_per_trigger
    )
    records = records_from_lines(lines, chain=chain)
    agg = streaming_windowed_counts(records, watermark=watermark)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        alert_batch(cat, batch, batch_id, rules)

    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --------------------------------------------------------------------------
# anomaly-based alerting — z-score firings from the maintained agg table
# --------------------------------------------------------------------------

ANOMALY_ALERT_KEYS = ["rule_name", "window_start", "window_end", "category", "level"]
_KEY_SEP = "\x1f"  # unit separator: cannot occur in category/level values


def anomaly_alert_batch(
    cat: LocalCatalog,
    batch: DataFrame,
    batch_id: int,
    rule_name: str = "rate_anomaly",
    z_threshold: float = 3.0,
    min_history: int = 12,
    query_id: str = "anomaly_alerts",
    table: str = "stream_anomaly_alerts",
    agg_table: str = "stream_agg",
) -> bool:
    """The modern alerting mode: fire when a key's windowed volume
    spikes against ITS OWN trailing baseline (anomaly.rate_anomalies'
    z-score), instead of a hand-tuned static threshold.

    Runs AFTER the agg sink merged the epoch (compose both in one
    foreachBatch): evaluation reads the MAINTAINED agg table — already
    metadata-scale — restricted to the keys this epoch actually
    changed (a broadcast semi-join of the epoch's tiny distinct key
    set), zero-fills and scores their full series, and appends
    newly-flagged (rule, window, key) identities to a dedicated
    anomaly ledger. A window's z can flip as late data revises it or
    its baseline; standard alert semantics apply — the FIRST flagged
    epoch fires, later unflagging never retracts, and the ledger
    anti-join keeps firing at-most-once. Exactly-once via the shared
    committed map (a replayed epoch re-reads the agg HEAD, which
    already contains it — evaluation converges; the map guard keeps
    the ledger append from duplicating)."""
    from ..operators.anomaly import rate_anomalies_from_counts
    from .stream_pipeline import _committed_map, _summary_at_publish, _upsert_lock

    spark = batch.sparkSession
    with _upsert_lock(cat, table):
        committed = _committed_map(cat, table)
        if committed.get(query_id, -1) >= batch_id:
            return False
        changed = batch.select("category", "level").distinct()
        series = (
            cat.read(spark, agg_table)
            .join(F.broadcast(changed), ["category", "level"], "left_semi")
            .select(
                F.concat_ws(_KEY_SEP, "category", "level").alias("key"),
                F.col("window_start").alias("bucket"),
                F.col("n").alias("x"),
            )
        )
        scored = rate_anomalies_from_counts(
            series, threshold=z_threshold, min_history=min_history
        )
        fired = scored.filter(F.col("is_anomaly")).select(
            F.lit(rule_name).alias("rule_name"),
            F.col("bucket").alias("window_start"),
            (F.col("bucket") + F.expr("interval 1 hour")).alias("window_end"),
            F.split_part(F.col("key"), F.lit(_KEY_SEP), F.lit(1)).alias("category"),
            F.split_part(F.col("key"), F.lit(_KEY_SEP), F.lit(2)).alias("level"),
            "x",
            "z",
        )
        if cat.exists(table) and cat.last_snapshot_id(table) is not None:
            ledger = cat.read(spark, table).select(*ANOMALY_ALERT_KEYS)
            fired = fired.join(ledger, ANOMALY_ALERT_KEYS, "left_anti")
        cat.append(
            fired,
            table,
            summary=_summary_at_publish(cat, table, query_id, batch_id),
        )
        return True


def start_anomaly_alert_stream(
    spark: SparkSession,
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    z_threshold: float = 3.0,
    min_history: int = 12,
    watermark: str = "10 minutes",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """pages stream -> windowed counts -> agg sink + anomaly alerts,
    composed in ONE foreachBatch: the epoch merges into ``stream_agg``
    first (its own exactly-once guard), then the anomaly pass scores
    the refreshed table. A crash between the two is safe: on replay
    the agg sink skips (already committed) and the anomaly pass
    evaluates against the head — same result."""
    from ..operators.parse import parse_records
    from .stream_pipeline import (
        stream_pages,
        streaming_windowed_counts,
        upsert_agg_batch,
    )

    cat = LocalCatalog(warehouse)
    records = parse_records(stream_pages(spark, pages_dir, max_files_per_trigger))
    agg = streaming_windowed_counts(records, watermark=watermark)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        upsert_agg_batch(batch.sparkSession, cat, batch, batch_id)
        anomaly_alert_batch(
            cat, batch, batch_id,
            z_threshold=z_threshold, min_history=min_history,
        )

    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# -- absence alerts ----------------------------------------------------

ABSENCE_ALERT_KEYS = ["rule_name", "category", "level", "last_window"]


def absence_alert_batch(
    cat: LocalCatalog,
    batch: DataFrame,
    batch_id: int,
    rule_name: str = "absence",
    silence_hours: int = 2,
    query_id: str = "absence_alerts",
    table: str = "stream_absence_alerts",
    agg_table: str = "stream_agg",
) -> bool:
    """The third alerting direction (threshold = T47, spike = T54):
    fire when a key STOPS — its newest window in the maintained agg
    table trails the table's event-time frontier by more than
    ``silence_hours`` (the dead-agent / broken-shipper alert,
    Grafana's "no data" condition; batch analog =
    operators/anomaly.absent_keys).

    Runs AFTER the agg sink merged the epoch (compose in one
    foreachBatch). Unlike the anomaly pass, evaluation CANNOT restrict
    to the epoch's changed keys — absence is precisely about keys the
    epoch did NOT carry — so it reads the whole agg table: key x
    window cells, metadata-scale, collapsed to one row per key by the
    max/sum aggregation. The frontier is the agg HEAD's max
    window_start (event time, not wall clock: an idle stream ages
    nobody; a replay reads the same head and converges).

    Alert identity is (rule, key, last_window): a key that dies, is
    resurrected by later data, then dies again fires AGAIN with the
    new last_window — while the ledger anti-join keeps one death
    firing at-most-once across epochs. A late-data revision that
    ADVANCES a dead key's last_window within the silence horizon
    simply un-deads it (nothing retracts — standard alert
    semantics)."""
    from .stream_pipeline import _committed_map, _summary_at_publish, _upsert_lock

    spark = batch.sparkSession
    with _upsert_lock(cat, table):
        committed = _committed_map(cat, table)
        if committed.get(query_id, -1) >= batch_id:
            return False
        agg = cat.read(spark, agg_table).select(
            "category", "level", "window_start", "n"
        )
        per_key = agg.groupBy("category", "level").agg(
            F.max("window_start").alias("last_window"),
            F.sum("n").cast("bigint").alias("n_total"),
        )
        frontier = agg.agg(F.max("window_start").alias("_frontier"))
        fired = (
            # 1-row build side: BroadcastNestedLoopJoin, never a
            # shuffling CartesianProduct (the sigterms/range-grid shape)
            per_key.join(F.broadcast(frontier))
            .filter(
                F.col("last_window")
                < F.col("_frontier") - F.expr(f"interval {int(silence_hours)} hours")
            )
            .select(
                F.lit(rule_name).alias("rule_name"),
                "category",
                "level",
                "last_window",
                "n_total",
                F.col("_frontier").alias("frontier"),
            )
        )
        if cat.exists(table) and cat.last_snapshot_id(table) is not None:
            ledger = cat.read(spark, table).select(*ABSENCE_ALERT_KEYS)
            fired = fired.join(ledger, ABSENCE_ALERT_KEYS, "left_anti")
        cat.append(
            fired,
            table,
            summary=_summary_at_publish(cat, table, query_id, batch_id),
        )
        return True


def start_absence_alert_stream(
    spark: SparkSession,
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    silence_hours: int = 2,
    watermark: str = "10 minutes",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """pages stream -> windowed counts -> agg sink + absence alerts in
    ONE foreachBatch (the start_anomaly_alert_stream composition; a
    crash between the two commits heals on replay the same way)."""
    from ..operators.parse import parse_records
    from .stream_pipeline import (
        stream_pages,
        streaming_windowed_counts,
        upsert_agg_batch,
    )

    cat = LocalCatalog(warehouse)
    records = parse_records(stream_pages(spark, pages_dir, max_files_per_trigger))
    agg = streaming_windowed_counts(records, watermark=watermark)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        upsert_agg_batch(batch.sparkSession, cat, batch, batch_id)
        absence_alert_batch(cat, batch, batch_id, silence_hours=silence_hours)

    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

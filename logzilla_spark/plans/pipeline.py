"""The end-to-end incremental pipeline with lineage + checkpoint-resume.

The reference's engine loop is
source -> process -> buffer -> flush-to-storage
(reference: engine/orchestrator.go:70-131), at-most-once: a crashed
batch is simply lost (engine/storage.go:95-98). The graft upgrades this
to exactly-once over snapshot-committed tables (SURVEY.md §2.5 G6/G7):

- input is the `pages` table; each run processes the snapshot delta
  (ckpt, head] via an Iceberg-style incremental read;
- parse -> enrich -> route appends land in per-category sinks, each
  commit tagged with the input snapshot id it derives from;
- windowed aggregates are recomputed from the sinks and OVERWRITTEN
  (so they always reflect total table state);
- per-stage, per-partition lineage counters land in the `metrics`
  table (F.spark_partition_id());
- the checkpoint (last fully-committed input snapshot id) is published
  LAST via atomic rename. On resume, any sink/agg/metrics commits
  tagged with a snapshot id beyond the checkpoint are rolled back
  before reprocessing — so a run killed at ANY point re-runs to a
  byte-identical end state with no double-processing (tested).

At cluster scale the same protocol runs over real Iceberg: incremental
scan between snapshot ids, commit summaries as snapshot properties,
table rollback via ``rollback_to_snapshot``.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import windowed_counts
from ..operators.enrich import enrich_records
from ..operators.parse import parse_records
from ..operators.route import route_to_sinks_single_pass, sink_name
from ..schemas import CATEGORIES
from ..sources.catalog import LocalCatalog

PAGES_TABLE = "pages"
METRICS_TABLE = "metrics"
# committed per-(key, window-bucket) admitted counts for the T79
# config-declared quota — the cross-run spend ledger (same pattern as
# streaming/quota.py's stream_quota_counts): without it, a (key,
# window) spanning N incremental runs would admit N x quota rows
QUOTA_COUNTS_TABLE = "pipeline_quota_counts"


class CheckpointLog:
    """Atomic checkpoint records: last fully-committed input snapshot."""

    def __init__(self, warehouse: str):
        self.dir = os.path.join(warehouse, "_checkpoints")
        os.makedirs(self.dir, exist_ok=True)

    def last(self) -> int | None:
        entries = sorted(f for f in os.listdir(self.dir) if f.endswith(".json"))
        if not entries:
            return None
        with open(os.path.join(self.dir, entries[-1])) as f:
            return json.load(f)["input_snapshot_id"]

    def commit(self, input_snapshot_id: int, run_id: str) -> None:
        seq = len([f for f in os.listdir(self.dir) if f.endswith(".json")]) + 1
        tmp = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}")
        final = os.path.join(self.dir, f"ckpt-{seq:08d}.json")
        with open(tmp, "w") as f:
            json.dump({"input_snapshot_id": input_snapshot_id, "run_id": run_id}, f)
        os.rename(tmp, final)


@dataclass
class RunReport:
    run_id: str
    input_snapshot_id: int | None
    rows_in: int
    rows_routed: dict
    resumed_rollbacks: int


_PART_RE = re.compile(r"part-(\d+)")


def _routed_lineage_rows(
    cat: LocalCatalog, snaps: dict[str, int], run_id: str, snap: int
) -> tuple[list[tuple], dict[str, int]]:
    """Lineage counters derived from the routed files' parquet footers.

    The single-pass partitionBy write produces one file per (write
    task, category), so footer row-counts ARE the per-partition,
    per-sink lineage — zero extra Spark jobs. Returns (metric rows,
    rows routed per category).
    """
    import pyarrow.parquet as pq

    rows: list[tuple] = []
    routed: dict[str, int] = {}
    for c, sid in snaps.items():
        groups = cat._groups(sink_name(c), sid)
        new = groups[-1]  # the group this run appended
        total = 0
        for f in new["files"]:
            n = pq.ParquetFile(f).metadata.num_rows
            m = _PART_RE.search(os.path.basename(f))
            pid = int(m.group(1)) if m else -1
            rows.append((run_id, f"route_{c}", pid, None, n, snap))
            total += n
        routed[c] = total
    return rows, routed


def _rollback_beyond(cat: LocalCatalog, table: str, ckpt: int | None) -> int:
    """Roll a table back past any commits tagged with an un-checkpointed
    input snapshot id. Returns number of rolled-back commits."""
    head = cat.last_snapshot_id(table)
    if head is None:
        return 0
    rolled = 0
    sid = head
    while sid is not None and sid >= 1:
        summary = cat.snapshot_summary(table, sid)
        tagged = summary.get("input_snapshot_id")
        if tagged is None or (ckpt is not None and tagged <= ckpt):
            break
        rolled += 1
        sid -= 1
    if rolled:
        if sid is None or sid < 1:
            cat.drop(table)
        else:
            cat.rollback(table, sid)
    return rolled


class Pipeline:
    """Incremental parse->enrich->route->aggregate over the pages table."""

    def __init__(self, spark: SparkSession, catalog: LocalCatalog,
                 parse_impl: "str | tuple[str, ...]" = "hybrid",
                 use_html: bool = True,
                 quota: "dict | None" = None):
        """``parse_impl``: one of the built-in impl names ('arrow' /
        'native' / 'hybrid'), or a tuple of registered parser names —
        the config-driven per-source processor chain
        (reference: config/config.go:45-50).

        ``quota`` ({"quota": N, "key": col, "window": unit}) enables
        the T77 ingest guard: over-quota records are RE-ROUTED to the
        'throttled' sink (never-drop) before aggregation, so a runaway
        source can flood only its own dead-letter category."""
        self.spark = spark
        self.cat = catalog
        self.ckpts = CheckpointLog(catalog.warehouse)
        self.parse_impl = parse_impl
        self.use_html = use_html
        self.quota = quota
        # routing domain: a parser chain emits one category per parser
        # plus the never-drop 'unparsed' tail; built-in impls emit the
        # fixed reference domain
        self.categories = (
            list(parse_impl) + ["unparsed"]
            if isinstance(parse_impl, (tuple, list))
            else list(CATEGORIES)
        )
        if quota is not None:
            self.categories = [*self.categories, "throttled"]

    # -- ingestion helper (test/bench entry) ----------------------------
    def ingest_pages(self, pages: DataFrame) -> int:
        return self.cat.append(pages, PAGES_TABLE)

    def _commit_quota_spend(self, snaps: dict[str, int], tag: dict) -> None:
        """Append this run's admitted per-(key, bucket) counts to the
        spend ledger.

        Reads the counts back from the files the routing write just
        committed (the non-throttled sinks' newest append group) — the
        same zero-extra-Spark-jobs trick as the lineage counters, so
        the single-pass parse/enrich discipline is preserved (the
        alternative, re-aggregating the tagged frame, would re-run the
        whole parse chain for a metadata-scale result).
        """
        from ..operators.quota import _bucket

        key = self.quota.get("key", "source")
        window = self.quota.get("window", "hour")
        files = [
            f
            for c, sid in snaps.items()
            if c != "throttled"
            for f in self.cat._groups(sink_name(c), sid)[-1]["files"]
        ]
        if not files:
            return
        admitted = self.spark.read.parquet(*files)
        delta = (
            admitted.select(
                F.col(key).cast("string").alias("key"),
                _bucket("timestamp", window).alias("bucket"),
            )
            .groupBy("key", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_admitted"))
        )
        self.cat.append(delta, QUOTA_COUNTS_TABLE, summary=dict(tag))

    def set_dims(self, dim_lang: DataFrame, dim_severity: DataFrame) -> None:
        self.cat.overwrite(dim_lang, "dim_lang")
        self.cat.overwrite(dim_severity, "dim_severity")

    # -- one incremental run --------------------------------------------
    def run(self, run_id: str | None = None, fail_after_stage: str | None = None) -> RunReport:
        """Process the pages delta since the last checkpoint.

        ``fail_after_stage`` ('route' | 'aggregate' | 'metrics') injects
        a crash for resume testing.
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        ckpt = self.ckpts.last()

        # resume protocol: drop any un-checkpointed commits
        rolled = 0
        for c in self.categories:
            rolled += _rollback_beyond(self.cat, sink_name(c), ckpt)
            rolled += _rollback_beyond(self.cat, f"agg_{c}", ckpt)
        rolled += _rollback_beyond(self.cat, METRICS_TABLE, ckpt)
        if self.quota is not None:
            rolled += _rollback_beyond(self.cat, QUOTA_COUNTS_TABLE, ckpt)

        head = self.cat.last_snapshot_id(PAGES_TABLE)
        delta = self.cat.read_incremental(self.spark, PAGES_TABLE, ckpt)
        if delta is None:
            return RunReport(run_id, ckpt, 0, {}, rolled)

        tag = {"input_snapshot_id": head, "run_id": run_id}

        if isinstance(self.parse_impl, (tuple, list)):
            from ..operators.parsers import parse_records_chain

            records = parse_records_chain(
                delta, chain=tuple(self.parse_impl), use_html=self.use_html
            )
        else:
            records = parse_records(delta, impl=self.parse_impl, use_html=self.use_html)
        if self.cat.exists("dim_lang"):
            records = enrich_records(
                records,
                self.cat.read(self.spark, "dim_lang"),
                self.cat.read(self.spark, "dim_severity"),
            )
        if self.quota is not None:
            from ..operators.quota import ingest_quota

            # charge this delta against what earlier runs already
            # admitted per (key, bucket) — after the rollback above the
            # ledger holds exactly the checkpointed spend
            spent = (
                self.cat.read(self.spark, QUOTA_COUNTS_TABLE)
                if self.cat.exists(QUOTA_COUNTS_TABLE)
                and self.cat.last_snapshot_id(QUOTA_COUNTS_TABLE) is not None
                else None
            )
            records = ingest_quota(
                records, self.quota["quota"],
                key_col=self.quota.get("key", "source"),
                window=self.quota.get("window", "hour"),
                spent=spent,
            ).withColumn(
                "category",
                F.when(F.col("over_quota"), F.lit("throttled"))
                .otherwise(F.col("category")),
            ).drop("over_quota")
        # single pass: parse+enrich execute exactly once inside the
        # partitionBy(category) routing write; no cache, no re-scan
        snaps = route_to_sinks_single_pass(
            records, self.cat, categories=self.categories, run_id=run_id,
            summary_extra={"input_snapshot_id": head},
        )
        lineage_rows, routed = _routed_lineage_rows(self.cat, snaps, run_id, head)
        rows_in = delta.count()
        if fail_after_stage == "route":
            raise RuntimeError("injected failure after route")

        if self.quota is not None:
            self._commit_quota_spend(snaps, tag)

        # aggregates reflect TOTAL sink state -> overwrite (idempotent)
        from ..sources.catalog import SnapshotError

        for c in self.categories:
            try:
                sink = self.cat.read(self.spark, sink_name(c))
            except SnapshotError:
                continue  # category saw no rows yet
            agg = windowed_counts(sink)
            self.cat.overwrite(agg, f"agg_{c}", summary=dict(tag))
        if fail_after_stage == "aggregate":
            raise RuntimeError("injected failure after aggregate")

        lineage_rows.append((run_id, "parse", -1, rows_in, sum(routed.values()), head))
        # a driver-side clock value, not F.current_timestamp(): Spark folds
        # that into a literal inside the generated Java, so every run
        # would compile new classes for the same plan
        committed_at = datetime.now(timezone.utc)
        metrics = self.spark.createDataFrame(
            [r + (committed_at,) for r in lineage_rows],
            schema="run_id string, stage string, partition_id int, rows_in bigint, "
                   "rows_out bigint, input_snapshot_id bigint, committed_at timestamp",
        )
        self.cat.append(metrics, METRICS_TABLE, summary=dict(tag))
        if fail_after_stage == "metrics":
            raise RuntimeError("injected failure after metrics")

        # the commit point: everything above becomes durable at once
        self.ckpts.commit(head, run_id)
        return RunReport(run_id, head, rows_in, routed, rolled)

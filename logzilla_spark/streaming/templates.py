"""Live template mining: a committed template table maintained from
the stream — the triage view (operators/templates.py) kept warm as
logs arrive, instead of re-mined per question.

Why this composition works at scale: the batch miner's whole state is
(template -> count, example, distinct-variant set) and the first two
are trivially mergeable (sum, min). The variant COUNT is not — distinct
counts don't add — so the live table carries each template's variant
set as a mergeable HLL register map (operators/sketches.py): max-merge
per register is associative/commutative/idempotent, so any trigger
split (and any replay) converges to the same registers, and the served
estimate is BIT-IDENTICAL to the batch sketch over the same lines
(differentially tested).

Shapes per epoch: the only input-sized work is ONE projection + a
two-level aggregation over the epoch's lines (map-side partials; at
most m=512 register rows per template survive level 1). The committed
``stream_templates`` table is TEMPLATE-CARDINALITY FOREVER — templates
are print statements, bounded by the codebase emitting them, not by
volume — so the per-epoch read-merge-overwrite is O(templates), the
same justification as the streaming HLL sink (streaming/sketch.py).

Exactly-once: the shared committed-map bookkeeping; a replayed epoch
is skipped whole (sum is NOT idempotent, unlike the pure-sketch sink
where replay would merely max-merge a no-op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from logzilla_spark.functions.hashing import md5_long_expr
from logzilla_spark.operators.sketches import (
    HLL_M,
    HLL_RHO_MAX,
    hll_estimate_from_registers,
)
from logzilla_spark.operators.templates import _DIGIT_RE
from logzilla_spark.sources.catalog import LocalCatalog
from logzilla_spark.streaming.stream_pipeline import (
    _committed_map,
    _summary_at_publish,
    _upsert_lock,
    stream_pages,
)

TEMPLATES_TABLE = "stream_templates"
_KEYS = ["template", "n_tokens"]


def _epoch_template_delta(
    lines: DataFrame, line_col: str = "line", mask: str = "<*>"
) -> DataFrame:
    """One epoch's lines -> (template, n_tokens, n, example, regs).

    ONE pass: project (template, arity, line, register, rho), then a
    two-level aggregate — level 1 keyed by (template, arity, register)
    computes count/min/max with map-side partials (<= m rows per
    template survive), level 2 folds those register rows into the
    template row (sum of counts, min of examples, registers collected
    into a map; collect_list is bounded by m=512 per group).
    """
    toks = F.split(F.col(line_col), " ", -1)
    masked = F.transform(
        toks, lambda t: F.when(t.rlike(_DIGIT_RE), F.lit(mask)).otherwise(t)
    )
    h = md5_long_expr(line_col)
    wb = f"(({h}) div {HLL_M})"
    rho = (
        f"CASE WHEN {wb} = 0 THEN {HLL_RHO_MAX} "
        f"ELSE {HLL_RHO_MAX} - length(bin({wb})) END"
    )
    base = lines.select(
        F.array_join(masked, " ").alias("template"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.col(line_col).alias("_line"),
        F.expr(f"({h}) % {HLL_M}").cast("int").alias("register"),
        F.expr(rho).cast("int").alias("rho"),
    )
    lvl1 = base.groupBy(*_KEYS, "register").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min("_line").alias("_ex"),
        F.max("rho").alias("rho"),
    )
    return lvl1.groupBy(*_KEYS).agg(
        F.sum("_c").alias("n"),
        F.min("_ex").alias("example"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("register", "rho")))
        ).alias("regs"),
    )


def _merge_template_tables(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two template tables: sum n, min example, max-merge the
    register maps. Register maps explode to rows for the merge (plain
    codegen aggregation over template-cardinality data) and re-collect
    — never an interpreted map fold."""
    both = old.unionByName(delta)
    counts = both.groupBy(*_KEYS).agg(
        F.sum("n").alias("n"), F.min("example").alias("example")
    )
    regs = (
        both.select(*_KEYS, F.explode("regs").alias("register", "rho"))
        .groupBy(*_KEYS, "register")
        .agg(F.max("rho").alias("rho"))
        .groupBy(*_KEYS)
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("register", "rho")))
            ).alias("regs")
        )
    )
    return counts.join(regs, _KEYS)


def upsert_templates_batch(
    spark: SparkSession,
    cat: LocalCatalog,
    lines: DataFrame,
    batch_id: int,
    query_id: str = "templates",
    table: str = TEMPLATES_TABLE,
) -> bool:
    """Fold one epoch of lines into the committed template table.

    Returns False for an already-committed (replayed) epoch — the
    count merge is additive, so the guard is correctness here, not
    just bookkeeping."""
    with _upsert_lock(cat, table):
        committed = _committed_map(cat, table)
        if committed.get(query_id, -1) >= batch_id:
            return False
        delta = _epoch_template_delta(lines)
        if cat.exists(table) and cat.last_snapshot_id(table) is not None:
            merged = _merge_template_tables(cat.read(spark, table), delta)
        else:
            merged = delta
        cat.overwrite(
            merged,
            table,
            summary=_summary_at_publish(cat, table, query_id, batch_id),
        )
        return True


def read_templates(
    spark: SparkSession,
    cat: LocalCatalog,
    table: str = TEMPLATES_TABLE,
) -> DataFrame:
    """(template, n_tokens, n, example, est_variants) from the
    committed table — the live triage dashboard, O(templates). The
    variant estimate is the shared HLL read path, so it is
    bit-identical to the batch sketch over the same lines."""
    t = cat.read(spark, table)
    est = hll_estimate_from_registers(
        t.select(*_KEYS, F.explode("regs").alias("register", "rho")), _KEYS
    ).select(*_KEYS, "est_distinct")
    return t.select(*_KEYS, "n", "example").join(est, _KEYS).withColumnRenamed(
        "est_distinct", "est_variants"
    )


def start_templates_stream(
    spark: SparkSession,
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """pages stream -> lines -> per-epoch fold into the committed
    template table. No watermark: the table never evicts — it is the
    all-time template inventory, bounded by template cardinality."""
    from logzilla_spark.operators.parse import explode_lines

    cat = LocalCatalog(warehouse)
    lines = explode_lines(stream_pages(spark, pages_dir, max_files_per_trigger))

    def _sink(batch: DataFrame, batch_id: int) -> None:
        upsert_templates_batch(batch.sparkSession, cat, batch, batch_id)

    writer = (
        lines.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

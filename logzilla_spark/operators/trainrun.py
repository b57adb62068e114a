"""Training-run materializer: the end-to-end "make me a training set"
macro pipeline (Dolma / RedPajama / CCNet run shape), composed ONLY
from the repo's audited unit operators so every stage keeps its own
oracle twin and scale argument:

    near-dup keep-best  (cluster.neardup_keep_best over
                         ngram-jaccard edges + quality scores)
 -> curation gates + exact dedup  (textstats.curate_corpus)
 -> sequence packing             (textstats.pack_sequences)
 -> deterministic shuffle-shard  (shards.shard_manifest)
 -> committed examples table     (catalog, CLUSTERED BY (shard, pos))

Order rationale: near-dup families are resolved FIRST over the full
corpus (so the best COPY of a family survives even when lower-quality
recrawls would fail the gates differently), then the per-doc gates and
exact dedup run on the survivors — the Dolma ordering. Every stage is
a pure function of (corpus, params): the whole examples table is
reproducible bit-for-bit, and the DuckDB twin
(oracle_dataops.training_examples_sql) reproduces it end to end.

Scale shape: the composition adds only id-keyed semi joins (uniform
key) between stages; each stage's own shuffles are the audited ones.
The committed layout is CLUSTERED BY (shard, pos) — a loader streams
shard K's examples in deterministic pseudo-random order by reading
the files whose manifest shard-range covers K, in order, without a
sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from logzilla_spark.functions.caching import persist_tracked
from logzilla_spark.operators import cluster, dedup, textstats
from logzilla_spark.operators.shards import DEFAULT_SHARDS, shard_manifest

TRAIN_EXAMPLES_SUFFIX = "__train_examples"


def training_examples(
    docs: DataFrame,
    lang: str = "en",
    min_quality: float = 0.4,
    n_shards: int = DEFAULT_SHARDS,
    seed: str = "",
    budget: int = textstats.PACK_BUDGET,
    n_groups: int = textstats.PACK_GROUPS,
    id_col: str = "doc_id",
) -> DataFrame:
    """The pure transformation: one row per surviving training
    example — (id, quality, bpe_tokens, grp, n_tokens, seq_no,
    seq_off, skey, shard, pos).

    ``(shard, pos)`` is the example's place in the deterministic
    global shuffle; ``(grp, seq_no, seq_off)`` is its place in the
    packed fixed-``budget`` token stream. Survivors are the curation
    output over the near-dup keep-best winners.
    """
    kb = cluster.neardup_keep_best(
        docs,
        dedup.ngram_jaccard_pairs(docs),
        textstats.quality_score(docs).select("id", "quality"),
        id_col=id_col,
    )
    kept = kb.filter(F.col("is_kept")).select(F.col("id").alias(id_col))
    survivors = docs.join(kept, id_col, "left_semi")
    cur = persist_tracked(
        textstats.curate_corpus(
            survivors, id_col=id_col, lang=lang, min_quality=min_quality
        ).select("id", "quality", "bpe_tokens")
    )
    cur_ids = cur.select(F.col("id").alias(id_col))
    pk = textstats.pack_sequences(
        docs.join(cur_ids, id_col, "left_semi"),
        budget=budget,
        n_groups=n_groups,
        id_col=id_col,
    )
    sh = shard_manifest(cur_ids, n_shards=n_shards, seed=seed, id_col=id_col)
    return (
        cur.join(pk.select("id", "grp", "n_tokens", "seq_no", "seq_off"), "id")
        .join(sh, "id")
    )


def materialize_training_run(
    docs: DataFrame,
    catalog,
    name: str,
    **kw,
) -> dict:
    """Commit the examples as ``<name>__train_examples`` CLUSTERED BY
    (shard, pos) and return the run manifest: the funnel
    (input -> near-dup kept -> curated examples), token totals and the
    per-shard row counts — the audit record a training-data run
    always produces, computed from ONE aggregation over the examples
    plus one count of the input (no per-stage corpus rescan).

    The commit and the manifest aggregation both run here, so the
    examples frame is persisted and released in ``finally``
    (functions/caching.py)."""
    ex = training_examples(docs, **kw).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        snap = catalog.overwrite(
            ex,
            name + TRAIN_EXAMPLES_SUFFIX,
            cluster_by=["shard", "pos"],
            summary={"kind": "train_examples", **{k: str(v) for k, v in kw.items()}},
        )
        shards_rows = (
            ex.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_tokens").alias("n_tokens"),
            )
            .orderBy("shard")
            .collect()
        )
    finally:
        ex.unpersist()
    return {
        "snapshot_id": snap,
        "table": name + TRAIN_EXAMPLES_SUFFIX,
        "n_input": docs.count(),
        "n_examples": sum(r.n_rows for r in shards_rows),
        "total_tokens": sum(r.n_tokens for r in shards_rows),
        "n_shards_used": len(shards_rows),
        "shards": [
            {"shard": r.shard, "n_rows": r.n_rows, "n_tokens": r.n_tokens}
            for r in shards_rows
        ],
    }

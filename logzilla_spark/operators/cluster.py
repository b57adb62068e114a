"""Near-duplicate clustering: connected components over a pair graph.

The dedup operators (minhash / simhash / ngram) emit near-duplicate
PAIRS; an actual training-data pipeline needs CLUSTERS — one canonical
document kept per connected group of near-duplicates, everything else
dropped. Pairs are the edges; components are the groups.

Algorithm: min-label hooking with pointer jumping and edge contraction
(the practical MapReduce-CC recipe — Kiveris et al.'s star operations
reduce to the same steps). Every node starts labeled with its own id;
each round

  1. hook:          l(v) <- min(v, min of u over neighbors u)
  2. pointer jump:  l(v) <- l(l(v)) until nothing changes
  3. contract:      rewrite every edge onto its endpoints' labels,
                    drop self-loops and duplicates

until no edge is left. Near-dup families from an LSH pair generator are
often CHAINS (doc_i ~ doc_{i+1} passes the threshold, doc_1 ~ doc_n does
not), so hooking alone would need O(diameter) rounds; jumping to the
fixpoint turns every hook tree into a star and the contraction shrinks
the edge list geometrically. Every round merges each component's
minimum with all its neighbours, so the loop ends without a round cap.
Fixpoint = every member of a component carries the component's minimum
id.

Where it runs: on the driver. The pair lineage is collected ONCE as an
Arrow table (its single materialization; nothing else re-reads it) and
the rounds are numpy over ``np.unique`` positions of the node ids, so
the smallest position is the smallest id. A Spark round loop paid ~5
jobs, an eager lineage cut and a plan analysis per round for a few
thousand edges; executor work was a small part of its cost.

Size assumption: the edge list fits the driver — 16 B per edge of
int64 ids, so the ~4.4M pairs of the sf1 minhash graph are ~70 MB, a
few times that while a round runs. The result goes back through
``createDataFrame`` as one (id, cluster_id) row per node.

The DuckDB twin (oracle_dataops.neardup_clusters_sql) computes the
same fixpoint with a recursive CTE (min over the transitive closure),
so cluster ids match bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

# No lineage is cut here any more; the name stays importable because
# perfbench/report.py wraps it to count truncate calls per unit.
from logzilla_spark.functions.caching import truncate as _truncate  # noqa: F401


def _min_labels(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Component-minimum position of each of ``n`` node positions,
    given edges ``a[i] -- b[i]`` between positions."""
    label = np.arange(n)
    keep = a != b
    a, b = a[keep], b[keep]
    while len(a):
        # hook: every node adopts min(itself, its neighbours)
        hook = np.arange(n)
        np.minimum.at(hook, a, b)
        np.minimum.at(hook, b, a)
        # pointer jump to the fixpoint: every hook tree becomes a star
        while True:
            nxt = hook[hook]
            if np.array_equal(nxt, hook):
                break
            hook = nxt
        label = hook[label]
        # contract onto the new labels; drop intra-cluster edges and
        # duplicates (as canonical lo < hi pairs, one int64 key each)
        a, b = hook[a], hook[b]
        keep = a != b
        lo, hi = np.minimum(a[keep], b[keep]), np.maximum(a[keep], b[keep])
        e = np.unique(lo * n + hi)
        a, b = e // n, e % n
    return label


def connected_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """(id, cluster_id) for every node in ``pairs``; cluster_id is the
    minimum node id in the component. A NULL endpoint is no node: its
    edge drops, the other endpoint still appears. Nodes absent from
    ``pairs`` are absent here — join singletons back via
    neardup_clusters. Ids take ``a_col``'s type."""
    id_type = pairs.schema[a_col].dataType
    t = pairs.select(
        F.col(a_col).alias("a"), F.col(b_col).cast(id_type).alias("b")
    ).toArrow()
    a, b = t.column("a").combine_chunks(), t.column("b").combine_chunks()
    ends = pa.concat_arrays([a, b]).drop_null()
    nodes = np.unique(ends.to_numpy(zero_copy_only=False))
    both = pc.and_(a.is_valid(), b.is_valid())
    label = _min_labels(
        np.searchsorted(nodes, a.filter(both).to_numpy(zero_copy_only=False)),
        np.searchsorted(nodes, b.filter(both).to_numpy(zero_copy_only=False)),
        len(nodes),
    )
    schema = StructType(
        [StructField("id", id_type), StructField("cluster_id", id_type)]
    )
    out = pa.table({"id": nodes, "cluster_id": nodes[label]})
    return pairs.sparkSession.createDataFrame(out, schema)


def neardup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Every doc with its near-dup cluster: (id, cluster_id,
    is_canonical). Docs in no pair are their own singleton cluster;
    the kept corpus after dedup is ``filter(is_canonical)``."""
    cc = connected_components(pairs, a_col=a_col, b_col=b_col)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(cc, "id", "left")
        .select(
            "id",
            F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("id") == F.col("cluster_id"))
    )


def neardup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    score_col: str = "quality",
    cache_scored: bool = True,
) -> DataFrame:
    """Near-dup curation endpoint: per cluster, keep the HIGHEST-score
    member (tie -> lowest id) instead of the min-id canonical.

    min-id canonicalization (neardup_clusters) is arbitrary: when a
    near-dup family mixes a clean page with boilerplate-mangled
    recrawls, a training pipeline wants the best COPY, not the first
    id. ``scores`` is any (id, <score_col>) frame — quality_score's
    output is the natural choice, but a model-based scorer slots in
    unchanged.

    Output: (id, cluster_id, <score_col>, is_kept); the curated corpus
    is ``filter(is_kept)`` — exactly one kept row per cluster,
    including singletons. Docs missing from ``scores`` (left join) and
    NULL/NaN scores rank WORST — they are still emitted and can only
    win a cluster whose every member is unscored (id tie-break), so
    a partially-failed scorer never silently deletes a family.

    Scale shape: one id-keyed join (uniform key), one min_by
    aggregation per cluster — O(1) state per group, so even a
    corpus-sized boilerplate mega-cluster costs one combiner chain,
    never a buffered group (the same argument as curate_corpus's
    keep-first). The winner table (one row per cluster) joins back on
    cluster_id; AQE broadcasts it when small and skew-splits the
    mega-cluster key when not. win derives from scored, so the scored
    lineage has two consumers (DeduplicateRelations' clones don't
    share exchanges); ``cache_scored`` (default ON) persists the
    narrow (id, cluster_id, score) frame through the tracked-cache
    registry (functions/caching.py) so the docs scan, the ``scores``
    lineage and the docs-to-clusters join run once — measured
    6.6s -> 5.5s steady at sf0.1 in an ABBA pair even with the cheap
    heuristic scorer (an EAGER checkpoint of scored was measured
    SLOWER than the double-run, 7.1s vs 5.9s — the extra job; the
    lazy persist pays neither cost). Callers that persist their own
    scores frame can pass cache_scored=False.
    """
    from logzilla_spark.functions.caching import persist_tracked

    cc = neardup_clusters(docs, pairs, id_col=id_col, a_col=a_col, b_col=b_col)
    scored = cc.select("id", "cluster_id").join(scores, "id", "left")
    if cache_scored:
        scored = persist_tracked(scored)
    # winner ordering key: min over (ns, id) where ns = -score, with
    # NULL and NaN scores mapped to +inf (worst). Explicit mapping on
    # BOTH engines — Spark's struct comparison sorts NULL keys FIRST
    # (a NULL score would otherwise WIN its cluster) and the two
    # engines disagree on NaN placement under DESC, so the raw column
    # is never used as an ordering key. Negating a double is exact.
    ns = F.when(
        F.col(score_col).isNull() | F.isnan(score_col),
        F.lit(float("inf")),
    ).otherwise(-F.col(score_col))
    win = scored.groupBy("cluster_id").agg(
        F.min_by(F.col("id"), F.struct(ns.alias("_ns"), F.col("id"))).alias(
            "_keep"
        )
    )
    return (
        scored.join(win, "cluster_id")
        .select(
            "id", "cluster_id", score_col,
            (F.col("id") == F.col("_keep")).alias("is_kept"),
        )
    )

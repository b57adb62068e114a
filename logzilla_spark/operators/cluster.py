"""Near-duplicate clustering: connected components over a pair graph.

The dedup operators (minhash / simhash / ngram) emit near-duplicate
PAIRS; an actual training-data pipeline needs CLUSTERS — one canonical
document kept per connected group of near-duplicates, everything else
dropped. Pairs are the edges; components are the groups.

Algorithm: min-label propagation with pointer jumping (the practical
MapReduce-CC recipe — Kiveris et al.'s star operations reduce to the
same two steps). Every node starts labeled with its own id; each round

  1. neighbor min:   l(v) <- min(l(v), min of l(u) over neighbors u)
  2. pointer jump:   l(v) <- l(l(v))     (path compression)

Step 1 alone needs O(diameter) rounds — near-dup families from an LSH
pair generator are often CHAINS (doc_i ~ doc_{i+1} passes the
threshold, doc_1 ~ doc_n does not), so diameter is not small. Step 2
halves the remaining label-tree depth each round, giving O(log n)
convergence on any graph shape. Fixpoint = every member of a
component carries the component's minimum id.

Two lessons from the first cut of this operator are load-bearing:

- The input pair frame is MATERIALIZED before the edge list is
  mirrored: union(pairs, swap(pairs)) over a lazy pair plan runs the
  whole (expensive) pair-generation lineage twice concurrently —
  Spark's DeduplicateRelations clones the subtree, ReuseExchange does
  not fire across the clones, and at sf0.1 the doubled minhash verify
  stage OOMed a 16g heap.
- Per-round state is truncated with an eager checkpoint, not
  persist(): caching stores the DATA but the logical plan keeps
  deepening, and Catalyst re-analyzes the full chain every round —
  measured round times of 1.5s -> 48s by round 5 with persist, flat
  ~1s with checkpoint truncation. (GraphFrames' CC does exactly this.)
  The deployment picks the mode (functions/caching.py): a session
  built with ``spark.checkpoint.dir`` gets reliable checkpoint() on
  that fault-tolerant store (the 1000-executor choice, where losing an
  executor mid-round is routine); otherwise localCheckpoint trades
  executor-loss recovery for speed.

Scale shape (100 TB): each round is one shuffle join (labels x edges,
both keyed by id), one groupBy(id) min, one self-join for the jump —
uniform keys, map-side partial aggregation, no collect. The pair
lineage is materialized once; per-round state is one (id, label) row
per node. The driver-side loop is control flow only — convergence is
decided by an isEmpty() per round, never by pulling data.

The DuckDB twin (oracle_dataops.neardup_clusters_sql) computes the
same fixpoint with a recursive CTE (min over the transitive closure),
so cluster ids match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from logzilla_spark.functions.caching import truncate as _truncate

MAX_CC_ITER = 25  # pointer jumping: rounds ~ log2(largest component)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = MAX_CC_ITER,
) -> DataFrame:
    """(id, cluster_id) for every node in ``pairs``; cluster_id is the
    minimum node id in the component. Nodes absent from ``pairs`` are
    absent here — join singletons back via neardup_clusters."""
    # ONE materialization of the (possibly expensive) pair lineage,
    # BEFORE mirroring (see module docstring); the mirror itself is a
    # lazy union over the truncated frame — no second materialization.
    # No distinct() on the mirrored list: canonical a<b pairs mirror to
    # unique rows, and even genuinely duplicated input edges are
    # harmless — the hook step is a min-aggregation and the contraction
    # dedups — so the old full-width distinct shuffle bought nothing.
    e = _truncate(pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")))
    edges = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    converged = False
    rounds: list[DataFrame] = []
    for _ in range(max_iter):
        # hook step: every node adopts min(itself, its neighbors).
        # One aggregation over the mirrored edge list — no join; dense
        # near-dup families (cliques) collapse to one label right here.
        lab = edges.groupBy("a").agg(F.min("b").alias("_mn")).select(
            F.col("a").alias("id"),
            F.least(F.col("a"), F.col("_mn")).alias("label"),
        )
        # pointer jump: l(v) <- l(l(v)) (path compression), applied
        # TWICE inside the same materialization — two cheap self-joins
        # in one plan quarter the label-tree depth per round instead of
        # halving it, shrinking the contracted edge list faster
        # (measured 2.7s -> 2.4s CC-only at sf0.1 in an ABBA pair,
        # identical output). A label is itself a node id, so its row
        # exists; left join + coalesce because a fully-hooked label
        # (already a root) has no row strictly below it to jump
        # through.
        cur = lab
        for j in range(2):
            jump = lab.select(
                F.col("id").alias(f"_jid{j}"), F.col("label").alias(f"_jl{j}")
            )
            cur = cur.join(
                jump, cur["label"] == jump[f"_jid{j}"], "left"
            ).select("id", F.coalesce(f"_jl{j}", "label").alias("label"))
        lab2 = _truncate(cur)
        # lab2 is materialized ONCE per round and consumed twice: by the
        # edge contraction below now, and by the mapping composition
        # after the loop. (The first cut folded it into the global
        # mapping inside the loop — one extra eager checkpoint job per
        # round, plus lab2's hook+jump recomputed in the contraction
        # job. Deferring the fold cut CC wall time ~35% at sf0.1.)
        rounds.append(lab2)
        # contract: rewrite edges onto the new labels, drop intra-
        # cluster edges and duplicates. The edge list SHRINKS
        # geometrically — the loop's work per round falls with it
        # (unlike label propagation, which re-joins the full edge list
        # every round until global convergence).
        la = lab2.select(F.col("id").alias("a"), F.col("label").alias("_la"))
        lb = lab2.select(F.col("id").alias("b"), F.col("label").alias("_lb"))
        # rebinding `edges` drops the superseded round; ContextCleaner
        # frees its checkpoint storage (functions/caching.py). rounds[]
        # entries are kept on purpose — the deferred mapping fold
        # consumes them after the loop.
        edges = _truncate(
            edges.join(la, "a").join(lb, "b")
            .select(F.col("_la").alias("a"), F.col("_lb").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        if edges.isEmpty():
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "— raise max_iter"
        )
    # Compose the per-round relabelings, in round order:
    # mapping_k = fold(mapping_{k-1}, lab2_k) — as ONE lazy k-join plan
    # over k checkpointed (id, label) frames (k ~ log2 of the largest
    # component, 3-6 in practice), evaluated by the caller's action
    # instead of k eager jobs inside the loop. Round 0's relabeling IS
    # the identity mapping folded once (its groupBy covers every node
    # of the mirrored edge list), so no separately-materialized
    # identity frame is needed.
    mapping = rounds[0]
    for i, lab2 in enumerate(rounds[1:]):
        mapping = mapping.alias("m").join(
            lab2.alias(f"l{i}"), F.col("m.label") == F.col(f"l{i}.id"), "left"
        ).select(
            F.col("m.id").alias("id"),
            F.coalesce(F.col(f"l{i}.label"), F.col("m.label")).alias("label"),
        )
    return mapping.select("id", F.col("label").alias("cluster_id"))


def neardup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = MAX_CC_ITER,
) -> DataFrame:
    """Every doc with its near-dup cluster: (id, cluster_id,
    is_canonical). Docs in no pair are their own singleton cluster;
    the kept corpus after dedup is ``filter(is_canonical)``."""
    cc = connected_components(pairs, a_col=a_col, b_col=b_col, max_iter=max_iter)
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
    max_iter: int = MAX_CC_ITER,
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
    lineage and the mapping-composition joins run once — measured
    6.6s -> 5.5s steady at sf0.1 in an ABBA pair even with the cheap
    heuristic scorer (an EAGER checkpoint of scored was measured
    SLOWER than the double-run, 7.1s vs 5.9s — the extra job; the
    lazy persist pays neither cost). Callers that persist their own
    scores frame can pass cache_scored=False.
    """
    from logzilla_spark.functions.caching import persist_tracked

    cc = neardup_clusters(
        docs, pairs, id_col=id_col, a_col=a_col, b_col=b_col,
        max_iter=max_iter,
    )
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

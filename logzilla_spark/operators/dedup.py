"""Document deduplication operators (training-data pipeline layer).

The reference stops at parse->store (SURVEY.md §2.4 — no joins, no
aggregation), but a web-scale corpus engine needs dedup as a
first-class stage. Five strategies. Exact dedup, MinHash and SimHash
features are JVM-side Catalyst expressions (higher-order functions, no
Python UDFs in the hot path — same rule as the parse stage,
BASELINE.json input_hint); MinHash candidates and verify, and n-gram
Jaccard overlap counts, run in the blocked Arrow set-overlap kernel of
``functions.overlap``; exact
embedding cosine is the blocked Arrow kernel of ``functions.vectors``,
whose pinned-order numpy sums give the bits of :func:`cosine_expr`:

- exact dedup            : content-hash groupBy
- MinHash + LSH          : char-shingle -> universal-hash signatures ->
                           band buckets as postings -> est + exact
                           verify per block of documents
- SimHash                : token-hash bit voting -> fingerprint ->
                           byte-block candidate join -> hamming filter
- n-gram Jaccard         : word-3-gram sets, exact overlap counts per
                           block of documents over a gram inverted index
- embedding cosine       : exact all-pairs baseline (the LSH scale path
                           lives in operators/similarity.py)

Every operator has a bit-identical DuckDB twin in
``logzilla_spark.oracle_dataops`` (shared constants live HERE) — the
differential oracle is the correctness anchor (SURVEY.md §5).

Scale notes (100 TB / 1000 executors):
- Signatures/fingerprints are one narrow projection per doc — no
  shuffle; cost is a single pass over text bytes (md5 per shingle,
  then cheap modular arithmetic for all K hash functions).
- LSH buckets are keyed on (band_id, band_hash) — a
  high-cardinality, well-distributed key (hash output), so no skew by
  construction; hot buckets (boilerplate pages) are bounded by
  ``max_bucket`` (drop pathological buckets, the standard
  production guard). The asymmetric delta-vs-corpus paths join on
  that key and shuffle on it at scale.
- The exact-verify stage runs only on candidates (est_sim prefilter
  first — the cheap signature check gates the expensive shingle
  intersection), the classic filter-verify funnel.
- n-gram Jaccard: ``max_df`` drops stop-grams (document frequency cap),
  the prefix-filtering analog that keeps a gram's posting list — and
  the partner expansion over it — from exploding on boilerplate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel
from logzilla_spark.functions.caching import persist_tracked
from logzilla_spark.functions.overlap import jaccard_pairs_above, minhash_pairs_above
from logzilla_spark.functions.vectors import cosine_pairs_above

from logzilla_spark.functions.hashing import (
    P31,
    md5_long,
    md5_long_expr,
    minhash_coeffs,
)

# Shared constants — the oracle twins import these; change here only.
N_MINHASH = 16
LSH_BANDS = 8
LSH_ROWS = 2  # N_MINHASH == LSH_BANDS * LSH_ROWS
SHINGLE_N = 5
WORDGRAM_N = 3
# SimHash geometry: md5_long is a 60-bit hash, so 60 is the widest
# honest fingerprint (bits 60-63 would always vote 0). 6 blocks of 10
# bits: pairs with hamming <= 5 PROVABLY share a block (pigeonhole);
# hamming 6..MAX_SIMHASH_HAMMING is best-effort recall, standard
# simhash practice. 6 x 2^10 block buckets (vs 4 x 2^8 at 32 bits)
# keeps per-bucket occupancy — and the self-join's quadratic pair
# expansion — proportionally lower as the corpus grows.
SIMHASH_BITS = 60
SIMHASH_BLOCKS = 6
SIMHASH_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # 10
SIMHASH_BLOCK_MASK = (1 << SIMHASH_BLOCK_BITS) - 1
MIN_EST_SIM = 0.25  # signature-level prefilter (multiples of 1/16)
MIN_JACCARD = 0.20  # exact-verify output threshold
MIN_WORDGRAM_JACCARD = 0.05
MAX_SIMHASH_HAMMING = 8
COSINE_THRESHOLD = 0.35
# Default LSH bucket-size guard: buckets larger than this (boilerplate
# pages all hashing to one band value) are dropped before the self-join,
# bounding the quadratic pair expansion. Mirrored bit-for-bit by the
# DuckDB twin (oracle_dataops.minhash_lsh_pairs_sql).
MAX_LSH_BUCKET = 500
# Default stop-gram guard for the n-gram Jaccard join: grams appearing
# in more than this many documents (boilerplate phrases) are dropped
# from the inverted index, bounding the per-gram join fan-out — the
# same ON-by-default posture as MAX_LSH_BUCKET. Mirrored by the DuckDB
# twin (oracle_dataops.ngram_jaccard_pairs_sql).
MAX_GRAM_DF = 500


def normalize_text(col: Column | str) -> Column:
    """Canonical text form: lowercase, whitespace collapsed, trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def _spread(df: DataFrame) -> DataFrame:
    """Ensure at least the session's parallelism for per-doc compute.

    The per-doc stages below (md5 per shingle, K minhash functions,
    bit voting) cost ~ms per document — orders more than scanning it.
    When the input arrives as one or two splits (a single parquet file
    at CI scale; a small dimension-ish table generally), that compute
    would serialize onto as many tasks, so a one-off round-robin
    shuffle restores full parallelism. When the input already has
    enough splits (a 100 TB corpus arrives as thousands of files),
    this is a no-op — ``repartition`` is always a full exchange, so it
    must be GATED, not relied on to collapse.

    The gate reads ``df.inputFiles()`` (a listing, no job) instead of
    probing the partition count through the DataFrame's RDD: that
    probe forces a plan conversion per operator call and does not
    exist under Spark Connect (lint: tests/test_plan_lint.py pins the
    package RDD-free). File count under-estimates splits when files exceed
    ``spark.sql.files.maxPartitionBytes`` (they split further), so the
    gate errs toward repartitioning — harmless: the corpora where the
    estimate is low are exactly the small ones where the exchange is
    cheap, and a many-file 100 TB corpus passes the gate outright.
    ``spark.logzilla.spread`` = off|auto|force overrides (off: never
    exchange; force: always — for callers whose input is one giant
    file AND whose downstream is compute-bound).
    """
    spark = df.sparkSession
    mode = spark.conf.get("spark.logzilla.spread", "auto")
    if mode == "off":
        return df
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if mode != "force" and len(df.inputFiles()) >= target:
        return df
    return df.repartition(target)


def _shingles_expr(norm_col: str, n: int = SHINGLE_N) -> str:
    """Distinct character n-grams of an already-normalized column."""
    return (
        f"array_distinct(transform(sequence(1, greatest(length({norm_col}) - {n - 1}, 1)), "
        f"i -> substring({norm_col}, i, {n})))"
    )


def _wordgrams_expr(tokens_col: str, n: int = WORDGRAM_N) -> str:
    """Distinct word n-grams from a token-array column."""
    return (
        f"array_distinct(transform(sequence(1, greatest(size({tokens_col}) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice({tokens_col}, i, {n}))))"
    )


# --------------------------------------------------------------------------
# 1. Exact dedup
# --------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group documents by content hash of normalized text.

    Returns (content_hash, keeper_id, n_copies): ``keeper_id`` is the
    deterministic survivor (min id); dropping all rows whose id !=
    keeper_id is the dedup. One shuffle on the hash (uniform key — no
    skew possible); partial aggregation (min/count) is map-side.
    """
    return (
        df.select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .groupBy(F.md5("_n").alias("content_hash"))
        .agg(
            F.min("id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Surviving rows only (first id per content hash), original schema."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# --------------------------------------------------------------------------
# 2. MinHash signatures + LSH candidate pairs
# --------------------------------------------------------------------------


def _ab_literal(n_hashes: int = N_MINHASH) -> str:
    a, b = minhash_coeffs(n_hashes)
    structs = ", ".join(
        f"named_struct('a', {aj}L, 'b', {bj}L)" for aj, bj in zip(a, b)
    )
    return f"array({structs})"


def _minhash_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASH,
) -> DataFrame:
    """Per-doc (id, sig, _sh): MinHash signature + distinct hashed
    shingle set, built in ONE lineage (normalize once, md5 once) — the
    single source of truth for the signature expression, shared by
    minhash_signatures and minhash_lsh_pairs so the DuckDB twins track
    one definition. Catalyst prunes whichever output column a consumer
    drops, so selecting just (id, sig) pays nothing for _sh."""
    sig = F.expr(
        f"transform({_ab_literal(n_hashes)}, "
        f"ab -> array_min(transform(_hs, h -> pmod(ab.a * h + ab.b, {P31}))))"
    )
    return (
        _spread(df)
        .select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .withColumn(
            "_hs",
            F.expr(
                f"transform({_shingles_expr('_n')}, s -> pmod({md5_long_expr('s')}, {P31}))"
            ),
        )
        # _sh as array<int>: every hashed shingle is pmod(·, P31) <
        # 2^31, so the int cast is exact — half the bytes through the
        # verify-stage shuffles and the feature cache (guide §2.3
        # "narrower types"). array_intersect/size on int arrays give
        # the identical inter_n/union_n, so output bits are unchanged.
        .select(
            "id",
            sig.alias("sig"),
            F.expr("cast(array_distinct(_hs) as array<int>)").alias("_sh"),
        )
    )


def _est_expr(sa: str, sb: str, n_hashes: int = N_MINHASH) -> str:
    """Signature agreement fraction — codegen-unrolled fast path.

    Semantics: the sequential fold ``size(filter(zip_with(sa, sb,
    (x,y) -> x = y), v -> v)) / n`` — a higher-order function chain
    Spark evaluates INTERPRETED (CodegenFallback), ~10 us per pair,
    which dominated the est prefilter at millions of candidate pairs
    (the dot_expr lesson applied to signatures; guide §4.1). When both
    signatures are exactly ``n_hashes`` wide (always, by construction,
    for non-NULL text) an unrolled integer sum of IF(=) terms runs
    instead: the same match count, the same cast-to-double, the same
    division — identical bits. NULL signatures (NULL-text docs) fail
    the width guard and take the fold branch, whose NULL propagates to
    est_sim and fails any >= threshold filter exactly as before."""
    fold = (
        f"cast(size(filter(zip_with({sa}, {sb}, (x, y) -> x = y), v -> v)) "
        f"as double) / {n_hashes}.0"
    )
    terms = " + ".join(
        f"IF(element_at({sa}, {i}) = element_at({sb}, {i}), 1, 0)"
        for i in range(1, n_hashes + 1)
    )
    return (
        f"IF(size({sa}) = {n_hashes} AND size({sb}) = {n_hashes}, "
        f"cast(({terms}) as double) / {n_hashes}.0, {fold})"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASH,
) -> DataFrame:
    """Per-doc MinHash signature: sig array<long> of length n_hashes.

    One md5 per distinct shingle, then the whole K-function family via
    cheap (a*h+b) mod p arithmetic — single projection, no shuffle.
    """
    return _minhash_features(df, id_col, text_col, n_hashes).select("id", "sig")


def _band_hash(k: int) -> Column:
    """LSH band ``k``'s bucket hash of the ``sig`` column."""
    return md5_long(
        F.concat_ws("|", *[F.element_at("sig", k * LSH_ROWS + r + 1) for r in range(LSH_ROWS)])
    )


def minhash_band_hashes(sig_df: DataFrame) -> DataFrame:
    """Explode signatures into (id, band_id, band_hash) LSH bucket keys."""
    bands = [
        F.struct(F.lit(k).alias("band_id"), _band_hash(k).alias("band_hash"))
        for k in range(LSH_BANDS)
    ]
    return sig_df.select(
        "id", F.explode(F.array(*bands)).alias("b")
    ).select("id", "b.band_id", "b.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est: float = MIN_EST_SIM,
    min_jaccard: float = MIN_JACCARD,
    max_bucket: int | None = MAX_LSH_BUCKET,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    Pipeline: one per-doc feature projection (sig, the LSH_BANDS band
    hashes, hashed shingles) collected once with ``toArrow()`` ->
    ``functions.overlap.minhash_pairs_above``: each (band_id,
    band_hash) bucket is a set element, buckets held by more than
    ``max_bucket`` rows are dropped (boilerplate pages; a NULL-id row
    counts but never pairs), and per block of doc_a documents the
    distinct candidate pairs get the signature est_sim prefilter and
    the exact shingle-Jaccard verify before any row leaves the task.
    No self-join, no cached frame.

    Returns (doc_a, doc_b, est_sim, inter_n, union_n, jaccard) with
    jaccard >= min_jaccard. est_sim is an exact multiple of
    1/n_hashes and jaccard an exact int/int division — both
    bit-portable to the DuckDB oracle (which mirrors the max_bucket
    guard too). A duplicate id gives one row per pair of its feature
    rows, as a join on doc id would.

    Size assumption: the features fit the driver — the sf1 documents
    corpus is ~50k signatures of 16 longs and at most ~15M shingle
    hashes (int32, one per text character at most), collected once as
    ``ngram_jaccard_pairs`` collects its gram sets.

    Considered and rejected: gating the est_sim check on the per-pair
    SHARED-BAND COUNT. A shared band only LOWER-bounds est_sim (one
    shared band ⇒ >= LSH_ROWS matched positions); matched positions
    need not align into whole bands, so a pair at exactly min_est can
    share as FEW as one band — the count can never soundly reject.
    """
    feats = _minhash_features(df, id_col, text_col).select(
        "id", "sig", F.array(*[_band_hash(k) for k in range(LSH_BANDS)]), "_sh"
    )
    return minhash_pairs_above(feats, N_MINHASH, min_est, min_jaccard, max_bucket)


def minhash_lsh_pairs_against(
    delta: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est: float = MIN_EST_SIM,
    min_jaccard: float = MIN_JACCARD,
    max_bucket: int | None = MAX_LSH_BUCKET,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs: new docs (``delta``) vs an existing
    reference corpus — the production recrawl/ingest-batch shape
    (is this new page a near-copy of something we already keep?).

    Same features, bands and verify rules as :func:`minhash_lsh_pairs`,
    but as Spark joins: the candidate stage is a band join BETWEEN the
    two sides, and the corpus side is never collected to the driver
    (it may be a corpus-sized registry narrowed to the delta's
    buckets). No corpus-corpus pairs are ever generated, so
    the cost scales with |delta| x bucket overlap — at 100 TB the
    committed corpus' features/bands are computed ONCE (or read from
    a maintained band registry, the batch analog of
    streaming/neardup.py's) and each nightly batch pays only its own
    feature pass plus delta-sized joins. Ids must be disjoint across
    the two frames (they identify different tables).

    Returns (doc_new, doc_old, est_sim, inter_n, union_n, jaccard)
    with jaccard >= min_jaccard. The max_bucket guard applies per
    side (a boilerplate mega-bucket in EITHER table would otherwise
    make the bucket join quadratic).
    """
    # each side's features feed its band stage AND its verify side
    fd = persist_tracked(_minhash_features(delta, id_col, text_col))
    fc = persist_tracked(_minhash_features(corpus, id_col, text_col))
    return _pairs_between(
        fd, fc,
        minhash_band_hashes(fd.select("id", "sig")),
        minhash_band_hashes(fc.select("id", "sig")),
        min_est=min_est, min_jaccard=min_jaccard, max_bucket=max_bucket,
    )


def _pairs_between(
    fd: DataFrame,
    fc: DataFrame,
    bands_d: DataFrame,
    bands_c: DataFrame,
    *,
    min_est: float,
    min_jaccard: float,
    max_bucket: int | None,
) -> DataFrame:
    """Band-join + est + verify between a delta side (features ``fd``,
    band rows ``bands_d``) and a corpus side (``fc``/``bands_c``) —
    ONE definition shared by the inline path (bands computed from
    features) and the committed-index path (bands read from the
    registry table), so persistence is bit-transparent by
    construction."""

    def _guarded(bands: DataFrame) -> DataFrame:
        if max_bucket is None:
            return bands
        w = Window.partitionBy("band_id", "band_hash")
        return (
            bands.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )

    bd = _guarded(bands_d).select(
        F.col("band_id").alias("_bi"),
        F.col("band_hash").alias("_bh"),
        F.col("id").alias("doc_new"),
    )
    bc = _guarded(bands_c).select(
        F.col("band_id").alias("_bi"),
        F.col("band_hash").alias("_bh"),
        F.col("id").alias("doc_old"),
    )
    cand = bd.join(bc, ["_bi", "_bh"]).select("doc_new", "doc_old").distinct()
    # single fat attach per side + unrolled est (OPTIMIZATION_r06.md
    # records the measured rejection of staged attachment at batch
    # scale). A corpus-era committed
    # ``sh`` column that is still array<bigint> coerces the int delta
    # side up in array_intersect — identical values, so serving stays
    # bit-transparent across index eras.
    fa = fd.select(
        F.col("id").alias("doc_new"), F.col("sig").alias("_sa"),
        F.col("_sh").alias("_ga"),
    )
    fb = fc.select(
        F.col("id").alias("doc_old"), F.col("sig").alias("_sb"),
        F.col("_sh").alias("_gb"),
    )
    return (
        cand.join(fa, "doc_new")
        .join(fb, "doc_old")
        .withColumn("est_sim", F.expr(_est_expr("_sa", "_sb")))
        .filter(F.col("est_sim") >= min_est)
        .withColumn("inter_n", F.expr("size(array_intersect(_ga, _gb))"))
        .withColumn("union_n", F.expr("size(_ga) + size(_gb) - inter_n"))
        .withColumn(
            "jaccard",
            F.col("inter_n").cast("double") / F.col("union_n").cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_new", "doc_old", "est_sim", "inter_n", "union_n", "jaccard")
    )


def neardup_filter_against(
    delta: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """The incremental-ingest dedup gate: delta rows that are NOT a
    near-duplicate of anything in the reference corpus (left-anti on
    the asymmetric pair set). Delta-INTERNAL duplicates are a separate
    concern — compose with :func:`minhash_lsh_pairs` /
    ``cluster.neardup_keep_best`` on the survivors."""
    pairs = minhash_lsh_pairs_against(
        delta, corpus, id_col=id_col, text_col=text_col, **kwargs
    )
    hits = pairs.select(F.col("doc_new").alias(id_col)).distinct()
    return delta.join(hits, id_col, "left_anti")


# --------------------------------------------------------------------------
# 2b. committed near-dup index (build once, serve every ingest batch)
# --------------------------------------------------------------------------

NEARDUP_FEATURES_TABLE = "__neardup_features"
NEARDUP_BANDS_TABLE = "__neardup_bands"


def build_neardup_index(
    corpus: DataFrame,
    catalog,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Commit the corpus' near-dup artifacts as snapshot-versioned
    catalog tables: ``__neardup_features`` (id, sig, sh — the
    signature + hashed shingle set the verify stage needs) and
    ``__neardup_bands`` (id, band_id, band_hash), CLUSTERED BY
    band_hash.

    This is the build-once/serve-many story T22 (ANN index) and T27
    (fulltext postings) establish, applied to dedup: at 100 TB the
    committed corpus' normalize+shingle+md5 pass — by far the
    expensive half of :func:`minhash_lsh_pairs_against` — runs ONCE
    per corpus build, and every nightly ingest batch joins against
    the committed tables instead of recomputing them. The artifact is
    a sketch of the corpus (a few KB/doc), not the corpus. Both
    commits come from ONE persisted feature lineage. On a real
    deployment the bands table is an Iceberg table bucketed by
    band_hash so the per-batch join co-locates without a
    registry-side shuffle (the same note as streaming/neardup.py's
    registry; the local catalog's range-clustering stands in).

    Both commits run here, so the feature frame is persisted and
    released in ``finally`` (functions/caching.py)."""
    feat = _minhash_features(corpus, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        sid_f = catalog.overwrite(
            feat.select("id", "sig", F.col("_sh").alias("sh")),
            NEARDUP_FEATURES_TABLE,
            summary={"kind": "neardup_features", "id_col": id_col},
        )
        sid_b = catalog.overwrite(
            minhash_band_hashes(feat.select("id", "sig")),
            NEARDUP_BANDS_TABLE,
            cluster_by=["band_hash"],
            summary={"kind": "neardup_bands", "id_col": id_col},
        )
    finally:
        feat.unpersist()
    return {"features": sid_f, "bands": sid_b}


def _update_applied(catalog, table: str, batch_ref: str) -> bool:
    """Whether ``table``'s HEAD snapshot already carries this update's
    ``batch_ref`` — the idempotence check for the sequential-updater
    contract (one maintainer advances the index; a retry after a crash
    between the two appends must skip the half that landed)."""
    sid = catalog.last_snapshot_id(table)
    if sid is None:
        return False
    return catalog.snapshot_summary(table, sid).get("batch_ref") == batch_ref


def update_neardup_index(
    new_docs: DataFrame,
    catalog,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_ref: str | None = None,
) -> dict:
    """APPEND newly-accepted docs' features + bands (after their
    ingest batch passed :func:`neardup_filter_against_index`, its
    survivors join the reference corpus for the NEXT batch). Appends
    are batch-clustered by band_hash; ``catalog.compact(...,
    cluster_by=['band_hash'])`` re-clusters a fragmented registry
    without breaking readers.

    ``batch_ref`` (recommended: the ingest batch's id) makes the
    two-table update CRASH-SAFE for a sequential updater: each append
    records the ref in its snapshot summary, and a retry skips any
    half whose head already carries it — a crash between the appends
    (features landed, bands not: docs unreachable as candidates)
    heals instead of duplicating feature rows (which would multiply
    pairs through the candidate join). Without a ref, a blind retry
    duplicates both appends — the pre-T73 behavior, kept for ad-hoc
    use. Like :func:`build_neardup_index`, the feature frame is
    persisted for the appends and released in ``finally``."""
    feat = _minhash_features(new_docs, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    tag = {} if batch_ref is None else {"batch_ref": batch_ref}
    try:
        if batch_ref is not None and _update_applied(
            catalog, NEARDUP_FEATURES_TABLE, batch_ref
        ):
            sid_f = catalog.last_snapshot_id(NEARDUP_FEATURES_TABLE)
        else:
            sid_f = catalog.append(
                feat.select("id", "sig", F.col("_sh").alias("sh")),
                NEARDUP_FEATURES_TABLE,
                summary={"kind": "neardup_features", "id_col": id_col, **tag},
            )
        if batch_ref is not None and _update_applied(
            catalog, NEARDUP_BANDS_TABLE, batch_ref
        ):
            sid_b = catalog.last_snapshot_id(NEARDUP_BANDS_TABLE)
        else:
            sid_b = catalog.append(
                minhash_band_hashes(feat.select("id", "sig")),
                NEARDUP_BANDS_TABLE,
                cluster_by=["band_hash"],
                summary={"kind": "neardup_bands", "id_col": id_col, **tag},
            )
    finally:
        feat.unpersist()
    return {"features": sid_f, "bands": sid_b}


def neardup_pairs_against_index(
    delta: DataFrame,
    catalog,
    spark,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est: float = MIN_EST_SIM,
    min_jaccard: float = MIN_JACCARD,
    max_bucket: int | None = MAX_LSH_BUCKET,
) -> DataFrame:
    """:func:`minhash_lsh_pairs_against` served from the COMMITTED
    index: the corpus side's features and bands are read from the
    catalog tables (snapshot-consistent pair — both read at their
    current head), the delta pays only its own feature pass. Output
    is bit-identical to the inline operator over the same corpus by
    construction (shared :func:`_pairs_between` core; pinned by
    test)."""
    fd = persist_tracked(_minhash_features(delta, id_col, text_col))
    fc = catalog.read(spark, NEARDUP_FEATURES_TABLE).select(
        "id", "sig", F.col("sh").alias("_sh")
    )
    bands_d = persist_tracked(minhash_band_hashes(fd.select("id", "sig")))
    # Restrict the registry read to the DELTA's band keys before the
    # guard/join: a bucket the delta never probes can produce no pair,
    # and for a probed key the matched rows ARE the whole bucket, so
    # the per-side guard count is unchanged — output-identical (pinned
    # by the served==inline test), but the guard window runs on the
    # key overlap instead of the full corpus registry. The join keys
    # are a distinct projection of the delta's bands (batch-scale);
    # AQE turns this into a broadcast join when the delta is small —
    # the operator's premise — which also dynamically prunes the
    # band_hash-clustered registry files.
    dkeys = bands_d.select("band_id", "band_hash").distinct()
    bands_c = catalog.read(spark, NEARDUP_BANDS_TABLE).join(
        dkeys, ["band_id", "band_hash"]
    )
    return _pairs_between(
        fd, fc,
        bands_d,
        bands_c,
        min_est=min_est, min_jaccard=min_jaccard, max_bucket=max_bucket,
    )


def neardup_filter_against_index(
    delta: DataFrame,
    catalog,
    spark,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """The served ingest gate: delta rows with no near-copy in the
    committed corpus index (left-anti on the served pair set)."""
    pairs = neardup_pairs_against_index(
        delta, catalog, spark, id_col=id_col, text_col=text_col, **kwargs
    )
    hits = pairs.select(F.col("doc_new").alias(id_col)).distinct()
    return delta.join(hits, id_col, "left_anti")


# --------------------------------------------------------------------------
# 3. SimHash
# --------------------------------------------------------------------------


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Per-doc ``bits``-wide SimHash over whitespace tokens (term
    frequency weighted — duplicate tokens vote once each, Charikar '02).

    KEYED by id: one output row per distinct ``id_col`` value.
    Duplicate-id input rows merge into a single fingerprint over their
    combined token multiset (the groupBy's natural semantics — the
    DuckDB twin mirrors it with the same GROUP BY).

    Shape: explode tokens -> md5 -> groupBy(id) with ``bits``
    conditional SUM votes -> reassemble the fingerprint. The obvious
    one-projection form (nested ``aggregate`` lambdas over the token
    array) is an INTERPRETED higher-order expression in Spark — no
    whole-stage codegen — and measured ~3 ms/doc, utterly dominating
    the operator at scale (x10 corpus: 181 s for fingerprints alone).
    The explode/agg form keeps every expression codegen-able: 181 s ->
    5.7 s on the same corpus, bit-identical output. The groupBy
    shuffle is map-side-complete (each doc's tokens are co-located by
    explode, so partial aggregation reduces to ``bits`` longs per doc
    before the exchange).

    ``explode_outer``, not ``explode``: a NULL-text doc has a NULL
    token array, which plain explode would DROP from the output —
    explode_outer keeps one NULL-token row per such doc. That row
    votes ZERO on every bit (a NULL doc has no tokens): a solo NULL
    doc sums to 0 everywhere → fingerprint 0 (the twin's LEFT JOIN
    emits the same), and a NULL row merged under a duplicate id
    contributes nothing — a -1 vote here would cancel the real rows'
    votes, diverging from the twin (whose unnest yields no row at
    all for NULL text)."""
    ex = (
        _spread(df)
        .select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .select("id", F.explode_outer(F.split("_n", " ")).alias("_t"))
        .withColumn("_h", F.expr(md5_long_expr("_t")))
    )
    aggs = [
        F.sum(
            F.when(F.col("_h").isNull(), 0)
            .when(F.expr(f"(shiftright(_h, {i}) & 1) = 1"), 1)
            .otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(bits)
    ]
    g = ex.groupBy("id").agg(*aggs)
    fp: Column | None = None
    for i in range(bits):
        # bit 63 is the long's sign bit: 1 << 63 overflows LongType as
        # a literal, -(1 << 63) IS that bit pattern. Sum assembly stays
        # exact — each bit contributes once, so no carry can occur.
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        term = (
            F.when(F.col(f"_v{i}") > 0, F.lit(bit_val).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        fp = term if fp is None else fp + term
    return g.select("id", fp.alias("fingerprint"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = MAX_SIMHASH_HAMMING,
    bits: int = SIMHASH_BITS,
    n_blocks: int = SIMHASH_BLOCKS,
    max_bucket: int | None = MAX_LSH_BUCKET,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on fingerprint bit-chunks
    (pigeonhole candidate generation), verify hamming distance.

    With ``n_blocks`` blocks, any pair with hamming <= n_blocks-1
    *provably* shares a block; larger max_hamming values are
    best-effort recall (standard simhash practice). Defaults: 60-bit
    fingerprints in 6 x 10-bit blocks. Shuffle key =
    (block_id, block_val); ``max_bucket`` drops pathological buckets
    (boilerplate corpora) exactly like minhash_lsh_pairs, bounding the
    quadratic per-bucket pair expansion — the DuckDB twin mirrors it.
    """
    fps = simhash_fingerprints(df, id_col, text_col, bits=bits)
    width = bits // n_blocks
    mask = (1 << width) - 1
    blocks = [
        F.struct(
            F.lit(b).alias("block_id"),
            F.expr(f"shiftright(fingerprint, {width * b}) & {mask}").alias("block_val"),
        )
        for b in range(n_blocks)
    ]
    ex = fps.select(
        "id", "fingerprint", F.explode(F.array(*blocks)).alias("b")
    ).select("id", "fingerprint", "b.block_id", "b.block_val")
    if max_bucket is not None:
        # Pre-aggregation guard (same shape as _pairs_between's): drop
        # pathological buckets BEFORE collect_list so per-group
        # aggregation state is genuinely O(max_bucket) — a post-agg
        # size filter would let one boilerplate bucket accumulate a
        # corpus-sized buffer before being discarded. A window count
        # (the DuckDB twin's QUALIFY) buffers bucket rows in a
        # spillable sorter — bounded memory even for a corpus-sized
        # bucket — and reuses the fingerprint lineage instead of
        # recomputing it for a count join.
        w = Window.partitionBy("block_id", "block_val")
        ex = (
            ex.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    # ONE aggregation instead of a bucket self-join: collect each
    # bucket's (id, fingerprint) members — bounded at max_bucket by the
    # guard above — and generate the intra-bucket pairs in place. The
    # self-join shape recomputed the md5+simhash fingerprint lineage
    # once per plan consumer (Spark's ReuseExchange does not fire
    # across DeduplicateRelations' cloned subtrees): measured 19s ->
    # ~4s at sf0.1. Map-side partial aggregation also shrinks the
    # shuffle to one row per (block, bucket) instead of one per member.
    grouped = ex.groupBy("block_id", "block_val").agg(
        F.collect_list(F.struct("id", "fingerprint")).alias("m")
    )
    # Hamming filter INSIDE the array, BEFORE explode: with w-bit block
    # keys every bucket holds ~corpus/2^w members once the corpus
    # outgrows 2^w, so the per-bucket expansion is quadratic-in-corpus
    # even though almost every generated pair fails the hamming test
    # (random pairs sit at ~bits/2). Filtering in the lambda keeps the
    # O(m^2) arithmetic in whole-stage codegen but materializes ONLY
    # survivors as rows — measured at 10x corpus (50k docs): explode
    # 44M rows + row filter 186s -> in-array filter ~30s, identical
    # output. The distinct then dedupes a pair that survived in several
    # blocks.
    pair = (
        "filter(flatten(transform(m, (x, i) -> "
        "transform(slice(m, i + 2, size(m)), y -> struct("
        "IF(x.id < y.id, x.id, y.id) AS doc_a, "
        "IF(x.id < y.id, y.id, x.id) AS doc_b, "
        "bit_count(x.fingerprint ^ y.fingerprint) AS hamming)))), "
        f"p -> p.hamming <= {int(max_hamming)})"
    )
    return (
        grouped.filter(F.size("m") >= 2)
        .select(F.explode(F.expr(pair)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
    )


# --------------------------------------------------------------------------
# 4. n-gram Jaccard set-similarity join
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = WORDGRAM_N,
    min_jaccard: float = MIN_WORDGRAM_JACCARD,
    max_df: int | None = MAX_GRAM_DF,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard over a gram inverted index.

    Each doc's DISTINCT grams are one Catalyst projection (the bits
    shared with the twin and ``dup_passage_stats``); the pairs come
    from ``functions.overlap.jaccard_pairs_above``, which collects the
    (id, grams) rows once, counts every pair's shared grams per block
    of documents and applies ``min_jaccard`` inside the block — no
    candidate rows, no self-join. Size assumption: the postings fit
    the driver (~2.6M (doc, gram) postings in the sf1 corpus).

    ``max_df`` drops grams appearing in more than max_df docs
    (stop-gram guard — bounds a gram's partner expansion, the scale
    lever for boilerplate-heavy corpora). ON by default
    (MAX_GRAM_DF): a gram shared by >max_df docs contributes a
    quadratic pair expansion, so leaving the guard opt-in made the
    default call unsafe at scale. The frequency counts rows, a NULL-id
    row included (it pairs with nothing). Union sizes still count the
    FULL gram set per doc (sizes are taken before the guard), so
    surviving pairs' jaccard is unchanged by the guard unless they
    relied on a stop-gram for intersection. The DuckDB twin mirrors the
    guard.
    """
    grams = (
        _spread(df)
        # NULL-text docs have no grams and participate in NO pairs
        # (matching the DuckDB twin, where the NULL gram list unnests
        # to zero rows). Without this filter Spark's concat_ws swallows
        # the NULL slice into an "" gram, spuriously pairing NULL-text
        # docs with empty-text docs at jaccard 1.0.
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), normalize_text(text_col).alias("_n"))
        .withColumn("_t", F.split("_n", " "))
        .select("id", F.expr(_wordgrams_expr("_t", n)).alias("_g"))
    )
    return jaccard_pairs_above(grams, min_jaccard, max_df)


# --------------------------------------------------------------------------
# 5. Embedding-cosine near-dup (exact all-pairs baseline)
# --------------------------------------------------------------------------


def dot_expr(a_col: str, b_col: str) -> str:
    """Pinned-order dot product — bit-identical in DuckDB.

    The semantic definition is the sequential fold: zip_with multiplies
    pairwise (after exact float->double casts), then a left-to-right
    aggregate sums from a 0.0 seed, so IEEE-754 evaluation order is
    pinned and Spark and the oracle produce the same double bits. A
    NULL array, a NULL element or a width mismatch makes it NULL. The
    reference that ``functions/vectors.py``'s numpy loops match; no
    operator evaluates it.
    """
    return (
        f"aggregate(zip_with({a_col}, {b_col}, (p, q) -> cast(p as double) * cast(q as double)), "
        "cast(0 as double), (acc, v) -> acc + v)"
    )


def cosine_expr(a_col: str, b_col: str) -> str:
    """Sequential-fold cosine similarity over :func:`dot_expr`, a
    reference like it — bit-identical in DuckDB.

    try_divide, not ``/``: a zero vector has norm 0 and ANSI division
    THROWS mid-corpus; DuckDB returns NULL for x/0, so try_divide is
    the bit-matching form (the NULL cosine then fails any >= threshold
    filter in both engines, dropping the pair).
    """
    return (
        f"try_divide({dot_expr(a_col, b_col)}, "
        f"sqrt({dot_expr(a_col, a_col)} * {dot_expr(b_col, b_col)}))"
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = COSINE_THRESHOLD,
) -> DataFrame:
    """Exact all-pairs cosine near-dup — the small-scale baseline.

    O(n^2): correct at CI scale, the oracle for the LSH scale path
    (operators/similarity.py::embedding_neardup_lsh). At 100 TB use
    the LSH variant; this one exists to measure its recall.

    Runs as the blocked Arrow kernel
    (``functions.vectors.cosine_pairs_above``): the corpus is collected
    once as a matrix and its row blocks are scored against it across
    the default parallelism, with the same bits as the
    :func:`cosine_expr` fold. The threshold is applied inside each
    block; a NULL cosine (NULL array or element, width mismatch, zero
    norm) drops the pair and a NaN cosine keeps it, as in DuckDB.
    """
    return cosine_pairs_above(
        emb.select(id_col, vec_col), threshold, ("vec_a", "vec_b")
    )


# --------------------------------------------------------------------------
# 6. Benchmark decontamination (cross-corpus n-gram overlap)
# --------------------------------------------------------------------------


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = WORDGRAM_N,
) -> DataFrame:
    """GPT-3 / Pile-style benchmark decontamination: flag training
    documents sharing any word n-gram with an eval/benchmark set
    (Brown et al. '20 Appendix C used 13-grams; ``n`` is the same
    WORDGRAM_N the jaccard operator uses so one builder serves both).

    Returns (id, bench_id, n_shared): one row per contaminated
    (document, benchmark item) pair with the count of distinct shared
    n-grams. Dropping every flagged ``id`` is the decontamination.

    STRICT gram semantics (unlike the jaccard operator's documented
    floor, which lets short docs pair with equally-short docs): a doc
    with fewer than ``n`` tokens emits NO grams — the contract is
    "shares a word n-gram", and a partial or empty-string gram is not
    one, so blank eval rows cannot flag every empty training doc.

    100 TB shape: eval sets are tiny (thousands of items), so the
    benchmark gram table is BROADCAST and the corpus-side gram explode
    streams through a map-side hash join — no repartition and no
    shuffle of corpus data before the join (plan-tested); only the
    contaminated minority reaches the (id, bench_id) aggregation,
    where a plain count suffices (both sides are per-doc distinct, so
    (id, bench_id, gram) triples are unique — count(DISTINCT) would
    add a second shuffle stage for the identical result). NULL-text
    rows on either side produce no grams.
    """

    def grams(frame: DataFrame, idc: str, out: str, txt: str) -> DataFrame:
        return (
            frame.filter(F.col(txt).isNotNull())
            .select(F.col(idc).alias(out), normalize_text(txt).alias("_n"))
            .withColumn("_t", F.split("_n", " "))
            .select(
                out,
                F.explode(
                    F.when(
                        F.size("_t") >= n, F.expr(_wordgrams_expr("_t", n))
                    ).otherwise(F.array().cast("array<string>"))
                ).alias("gram"),
            )
        )

    doc_g = grams(docs, id_col, "id", text_col)
    bench_g = grams(bench, bench_id_col, "bench_id", bench_text_col)
    return (
        doc_g.join(F.broadcast(bench_g), "gram")
        .groupBy("id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )

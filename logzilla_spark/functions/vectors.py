"""Pinned-order cosine and L2 as blocked Arrow kernels: every cosine and
squared L2 the engine takes over embeddings runs here, in three shapes.

- **Against a collected right-hand side**: exact near-dup
  (``dedup.embedding_neardup_pairs``) pairs the matrix with itself and
  brute-force top-k (``similarity.cosine_topk``) streams the corpus
  against the probes; tiles of rows are scored at most
  :data:`PAIR_BLOCK` pairs at a time, with the threshold or a per-probe
  partial top-k applied in the block.
- **Pairs that share a key** (a sign-LSH bucket or an IVF cell):
  :func:`keyed_pairs` expands each key's rows of a collected frame on
  ``functions.overlap``'s postings (LSH near-dup, SemDeDup), and
  :func:`keyed_cosines` streams the corpus against the probes' key
  lists (LSH and IVF top-k). Both gather each pair's columns
  (:func:`_pair_cosines`).
- **Nearest centroid** (:func:`nearest_centroids`): IVF assignment and
  probing, PQ codes and lookup tables and both k-means loops
  (:func:`lloyd`), squared L2 as ``acc + (a - b) * (a - b)``.

Size assumption: what is collected fits the driver and rides in every
task's closure: a right-hand side (the side a broadcast join would
ship), the probes and centroids, and a self-pair site's whole keyed
frame (the sf1-scale corpus is 20k x 64 floats, 10 MB as float64).

Bits. The definition is the sequential fold of ``dedup.dot_expr`` and
its DuckDB twin: products of float->double casts summed left to right
from a ``0.0`` seed. Each dot here is the column loop ``acc = acc +
a[:, i] * b[:, i]`` over a block of pairs, or its gather form ``acc =
acc + a[i][ia] * b[i][ib]``: the same IEEE-754 operations in the same
order (numpy neither reassociates an elementwise add nor fuses a
multiply-add; only BLAS ``matmul`` would), so the doubles are
bit-identical. ``dot / sqrt(da * db)`` with a zero divisor is NULL, as
Spark's ``try_divide`` and DuckDB's ``x / 0`` are.

NULLs, as in the fold: a NULL array, a NULL element or a width mismatch
makes the cosine NULL. Vectors are grouped by width and a pair is only
computed inside one group. A NULL id never pairs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType, StructField, StructType

from logzilla_spark.functions.overlap import _deal, _Postings

# Most pairs one block scores: a float64 block is 256 KiB, so the
# accumulator and its product temporary stay cache-resident, and an
# Arrow batch of ``arrow.maxRecordsPerBatch`` rows never allocates a
# batch x matrix array.
PAIR_BLOCK = 1 << 15


def _groups(vecs: pa.Array) -> dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Per usable vector width: (positions, columns, self-dots).

    ``columns`` is the (width, rows) float64 transpose, one contiguous
    run per dimension. A NULL array or one holding a NULL element is in
    no group: every dot it takes part in is NULL.
    """
    lens = pc.list_value_length(vecs).fill_null(-1).to_numpy()
    flat = pc.list_flatten(vecs)
    usable = lens >= 0
    null_elem = flat.is_null().to_numpy(zero_copy_only=False)
    usable[pc.list_parent_indices(vecs).to_numpy()[null_elem]] = False
    starts = np.concatenate(([0], np.cumsum(np.maximum(lens, 0))[:-1]))
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    out = {}
    for w in np.unique(lens[usable]):
        pos = np.flatnonzero(usable & (lens == w))
        cols = vals[starts[pos][None, :] + np.arange(w)[:, None]]
        dots = np.zeros(len(pos))
        with np.errstate(all="ignore"):
            for col in cols:
                dots = dots + col * col
        out[int(w)] = (pos, cols, dots)
    return out


def _cosine(
    a: np.ndarray, da: np.ndarray, b: np.ndarray, db: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(cosine, is_null) of every (a row, b row) pair, both (rows, cols).

    ``a`` and ``b`` are (width, n) columns from :func:`_groups`.
    """
    acc = np.zeros((a.shape[1], b.shape[1]))
    tmp = np.empty_like(acc)
    with np.errstate(all="ignore"):
        for ai, bi in zip(a, b):
            np.multiply(ai[:, None], bi[None, :], out=tmp)
            acc += tmp
        den = np.sqrt(np.multiply.outer(da, db))
        null = den == 0
        return acc / np.where(null, 1.0, den), null


def _block(rows: tuple, r: int, n: int) -> tuple:
    """Rows ``[r, r + n)`` of an (Arrow ids, numpy ids, width groups)
    triple, as one such triple (group positions relative to ``r``)."""
    ids_arrow, ids, groups = rows
    sub = {}
    for w, (pos, cols, dots) in groups.items():
        lo, hi = np.searchsorted(pos, [r, r + n])
        if hi > lo:
            sub[w] = (pos[lo:hi] - r, cols[:, lo:hi], dots[lo:hi])
    return ids_arrow.slice(r, n), ids[r : r + n], sub


def _rows(ids: pa.Array, vecs: pa.Array) -> tuple:
    return ids, ids.to_numpy(zero_copy_only=False), _groups(vecs)


def _tiles(df: DataFrame, block: int) -> tuple[list[tuple], int]:
    """The (id, vector) frame, collected once and sorted by id, as tiles
    of at most ``block`` rows, and the rows per block that keeps a block
    against one tile within ``block`` pairs."""
    df = df.where(df[df.columns[0]].isNotNull())  # NULL ids never pair
    t = df.toArrow()
    t = t.take(pc.sort_indices(t.column(0)))
    whole = _rows(t.column(0).combine_chunks(), t.column(1).combine_chunks())
    tiles = [_block(whole, s, block) for s in range(0, t.num_rows, block)]
    return tiles, block // min(block, max(t.num_rows, 1))


def _scored(blocks: Iterator[tuple], tiles: list[tuple], score, names, block: int):
    """Arrow batches of (block id, tile id, cosine) for every block
    against every tile. ``score(ids, groups, tile)`` yields (block
    positions, tile positions, cosines, NULL mask or None); blocks yield
    a few rows each, so rows are sent on in batches of ``block``, not one
    Arrow message per block."""
    out, n_out = [], 0
    for ids_arrow, ids, groups in blocks:
        for tile in tiles:
            for si, ti, cos, null in score(ids, groups, tile):
                out.append(pa.RecordBatch.from_arrays(
                    [ids_arrow.take(si), tile[0].take(ti),
                     pa.array(cos, pa.float64(), mask=null)],
                    names=names,
                ))
                n_out += len(si)
                if n_out >= block:
                    yield from _concat(out)
                    out, n_out = [], 0
    yield from _concat(out)


def _concat(parts: list[pa.RecordBatch]) -> list[pa.RecordBatch]:
    return pa.Table.from_batches(parts).combine_chunks().to_batches() if parts else []


def _schema(a: StructField, b: StructField) -> StructType:
    return StructType([a, b, StructField("cosine", DoubleType(), True)])


def cosine_pairs_above(
    vecs: DataFrame, threshold: float, names: tuple[str, str]
) -> DataFrame:
    """(a id, b id, cosine), named ``names``, for every pair of rows of
    the (id, vector) frame with a id < b id and cosine >= ``threshold``.
    NULL cosines drop and NaN passes (``NaN >= t`` is true in Spark and
    DuckDB).

    Both sides are the one collected matrix, so no side is scanned or
    shuffled again: a ``range`` of task numbers drives the map stage and
    task ``j`` scores every ``n_tasks``-th row block against the tiles
    (strided, so the triangle's long and short blocks spread evenly).
    """
    block = PAIR_BLOCK
    tiles, step = _tiles(vecs, block)
    blocks = [(t, r) for t, tile in enumerate(tiles) for r in range(0, len(tile[0]), step)]
    spark = vecs.sparkSession
    n_tasks = max(1, min(spark.sparkContext.defaultParallelism, len(blocks)))
    id_field = vecs.schema.fields[0]
    schema = _schema(
        StructField(names[0], id_field.dataType), StructField(names[1], id_field.dataType)
    )

    def score(ids, groups, tile):
        _, tid, tgroups = tile
        for w, (pos, cols, dots) in groups.items():
            if w not in tgroups:
                continue
            tpos, tcols, tdots = tgroups[w]
            # tile rows are id-sorted: skip those no block row is below
            lo = np.searchsorted(tid[tpos], ids[pos[0]], side="right")
            if lo == len(tpos):
                continue
            cos, null = _cosine(cols, dots, tcols[:, lo:], tdots[lo:])
            keep = (
                ~null
                & ((cos >= threshold) | np.isnan(cos))
                & (ids[pos][:, None] < tid[tpos[lo:]][None, :])
            )
            i, j = np.nonzero(keep)
            yield pos[i], tpos[lo + j], cos[i, j], None

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        mine = (
            _block(tiles[t], r, step)
            for batch in batches
            for task in batch.column(0).to_numpy()
            for t, r in blocks[task::n_tasks]
        )
        return _scored(mine, tiles, score, schema.fieldNames(), block)

    return spark.range(n_tasks, numPartitions=n_tasks).mapInArrow(kernel, schema)


def cosine_topk_partial(stream: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """(stream id, probe id, cosine): for each probe, its ``k`` best
    stream rows of every block, a superset of its global top-k.

    Both frames are (id, vector) and the output columns take their id
    names. ``probes`` is collected to the driver; each Arrow batch of
    ``stream`` is cut into blocks of rows that, against one probe tile,
    hold at most :data:`PAIR_BLOCK` pairs. Best is Spark's ``cosine
    DESC, id ASC``: NaN first, NULL cosines after every non-NULL one, so
    a probe with a NULL embedding still gets its ``k`` lowest-id
    neighbours. A row never pairs with a probe of its own id (nor a
    NULL id with anything). The caller ranks the union.
    """
    block = PAIR_BLOCK
    tiles, step = _tiles(probes, block)
    stream = stream.where(stream[stream.columns[0]].isNotNull())
    schema = _schema(stream.schema.fields[0], probes.schema.fields[0])

    def score(ids, groups, tile):
        _, tid, tgroups = tile
        cos = np.zeros((len(tid), len(ids)))
        null = np.ones(cos.shape, dtype=bool)
        for w, (pos, cols, dots) in groups.items():
            if w in tgroups:
                tpos, tcols, tdots = tgroups[w]
                ix = np.ix_(tpos, pos)
                cos[ix], null[ix] = _cosine(tcols, tdots, cols, dots)
        # sort class: 0 NaN, 1 number, 2 NULL, 3 self-pair (never kept)
        cls = np.where(null, 2, np.where(np.isnan(cos), 0, 1))
        cls[tid[:, None] == ids[None, :]] = 3
        neg = np.where(cls == 1, -cos, 0.0)
        top = np.lexsort((np.broadcast_to(ids, cls.shape), neg, cls))[:, :k]
        ti = np.repeat(np.arange(len(tid)), top.shape[1])
        si = top.ravel()
        keep = cls[ti, si] != 3
        ti, si = ti[keep], si[keep]
        yield si, ti, cos[ti, si], null[ti, si]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def blocks():
            for batch in batches:
                rows = _rows(batch.column(0), batch.column(1))
                for r in range(0, batch.num_rows, step):
                    yield _block(rows, r, step)

        return _scored(blocks(), tiles, score, schema.fieldNames(), block)

    return stream.mapInArrow(kernel, schema)


def _sign_bits(vecs: pa.Array, planes: list[list[int]]) -> np.ndarray:
    """Sign-LSH buckets: bit j set iff the dot with the ±1 plane j, the
    chain ``0.0 ± v[0] ± v[1] ...`` (``p * -1.0`` is ``-p`` exactly, and
    ``a - b`` is ``a + (-b)``), is >= 0, NaN included (the largest
    double in Spark and DuckDB); 0 for a vector not exactly as wide as
    the planes or holding a NULL, whose dots are NULL."""
    out = np.zeros(len(vecs), np.int64)
    group = _groups(vecs).get(len(planes[0]) if planes else -1)
    if group is not None:
        pos, cols, _ = group
        with np.errstate(all="ignore"):
            for j, plane in enumerate(planes):
                acc = np.zeros(len(pos))
                for col, sign in zip(cols, plane):
                    acc = acc + col if sign > 0 else acc - col
                out[pos] |= np.where((acc >= 0) | np.isnan(acc), 1 << j, 0)
    return out


def sign_buckets(vecs: DataFrame, planes: list[list[int]]) -> DataFrame:
    """The (id, vector) frame with a ``bucket`` column: :func:`_sign_bits`
    of each Arrow batch, no shuffle."""
    schema = StructType(vecs.schema.fields + [StructField("bucket", LongType(), False)])

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            bucket = pa.array(_sign_bits(b.column(1), planes))
            yield pa.RecordBatch.from_arrays([*b.columns, bucket], names=schema.fieldNames())

    return vecs.mapInArrow(kernel, schema)


def _index(vecs: pa.Array) -> tuple[np.ndarray, np.ndarray, dict]:
    """:func:`_groups` with each row's width (-1 for no group) and its
    column in that width's group."""
    groups = _groups(vecs)
    width, col = np.full(len(vecs), -1), np.zeros(len(vecs), int)
    for w, (pos, _, _) in groups.items():
        width[pos], col[pos] = w, np.arange(len(pos))
    return width, col, groups


def _pair_cosines(a: tuple, ra: np.ndarray, b: tuple, rb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(cosine, is_null) of rows ``ra`` of :func:`_index` ``a`` against
    rows ``rb`` of ``b``, NULL unless both rows are in one width group:
    :func:`_cosine`'s loop, gathered, ``acc = acc + a[i][ia] * b[i][ib]``."""
    (wa, ca, ga), (wb, cb, gb) = a, b
    cos, null = np.zeros(len(ra)), np.ones(len(ra), dtype=bool)
    w = np.where(wa[ra] == wb[rb], wa[ra], -1)
    with np.errstate(all="ignore"):
        for width in np.unique(w[w >= 0]):
            at = np.flatnonzero(w == width)
            (_, acols, adots), (_, bcols, bdots) = ga[width], gb[width]
            ia, ib, acc = ca[ra[at]], cb[rb[at]], np.zeros(len(at))
            for ac, bc in zip(acols, bcols):
                acc = acc + ac[ia] * bc[ib]
            den = np.sqrt(adots[ia] * bdots[ib])
            null[at] = den == 0
            cos[at] = acc / np.where(null[at], 1.0, den)
    return cos, null


def keyed_pairs(
    spark, t: pa.Table, threshold: float, max_df: int | None, emit, schema: StructType
) -> DataFrame:
    """``emit``'s batches of ``schema`` over the pairs of rows of the
    collected (id, vector, key, ...) table that share a non-NULL key,
    have different ids and a cosine >= ``threshold`` (NaN passes, NULL
    drops). Rows sorted by id are ``overlap._Postings`` documents, so a
    pair (a, b) has the lower id at a, and a key held by more than
    ``max_df`` rows pairs nothing (NULL-id rows count, but never pair).
    Per block of rows, ``emit(cols, a, b, cosine)`` gets the sorted
    columns without the vector and the passing pairs' positions and
    cosines."""
    block = PAIR_BLOCK
    cols = [c.combine_chunks() for c in t.take(pc.sort_indices(t.column(0))).columns]
    index = _index(cols.pop(1))
    n_ids = len(t) - cols[0].null_count
    ids = cols[0].slice(0, n_ids).to_numpy(zero_copy_only=False)
    doc = np.where(np.arange(len(t)) < n_ids, np.arange(len(t)), -1)
    row = np.flatnonzero(cols[1].is_valid().to_numpy(zero_copy_only=False))
    _, elem = np.unique(cols[1].take(row).to_numpy(), return_inverse=True)
    postings = _Postings(elem, row, doc, n_ids, max_df)

    def score(lo: int, hi: int) -> pa.RecordBatch | None:
        a, b = postings.partners(lo, hi)
        a = a + lo
        parts = [_pair_cosines(index, a[s : s + block], index, b[s : s + block])
                 for s in range(0, len(a), block)]
        if not parts:
            return None
        cos, null = map(np.concatenate, zip(*parts))
        ok = ~null & ((cos >= threshold) | np.isnan(cos)) & (ids[a] != ids[b])
        return emit(cols, a[ok], b[ok], cos[ok]) if ok.any() else None

    return _deal(spark, postings.blocks(), score, schema)


def keyed_cosines(stream: DataFrame, probes: DataFrame) -> DataFrame:
    """(stream id, probe id, cosine), named as the id columns, for every
    pair of rows of the streamed and the probe (id, vector, key) frames
    with equal keys and different ids; NULL cosines are kept. The probes
    are collected sorted by key, one row per probe key; each Arrow batch
    of the stream is cut into runs of rows that meet at most
    :data:`PAIR_BLOCK` probe rows (plus one row's own)."""
    block = PAIR_BLOCK
    stream, probes = (
        df.where(df[df.columns[0]].isNotNull() & df[df.columns[2]].isNotNull())
        for df in (stream, probes)
    )
    t = probes.toArrow()
    pids, pvecs, pkeys = (c.combine_chunks() for c in t.take(pc.sort_indices(t.column(2))).columns)
    pkeys, pindex = pkeys.to_numpy(), _index(pvecs)
    schema = _schema(stream.schema.fields[0], probes.schema.fields[0])

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            keys = batch.column(2).to_numpy()
            lo = np.searchsorted(pkeys, keys)
            n = np.searchsorted(pkeys, keys, side="right") - lo
            if not n.any():
                continue
            sids, index = batch.column(0), _index(batch.column(1))
            run = np.cumsum(n)
            cuts = np.unique(np.concatenate(
                ([0, len(n)], np.searchsorted(run, np.arange(block, run[-1], block)) + 1)
            ))
            for r0, r1 in zip(cuts[:-1], cuts[1:]):
                m = n[r0:r1]
                rs = np.repeat(np.arange(r0, r1), m)
                rp = np.repeat(lo[r0:r1] - (np.cumsum(m) - m), m) + np.arange(m.sum())
                keep = pc.not_equal(sids.take(rs), pids.take(rp)).to_numpy(zero_copy_only=False)
                rs, rp = rs[keep], rp[keep]
                cos, null = _pair_cosines(index, rs, pindex, rp)
                yield pa.RecordBatch.from_arrays(
                    [sids.take(rs), pids.take(rp), pa.array(cos, pa.float64(), mask=null)],
                    names=schema.fieldNames(),
                )

    return stream.mapInArrow(kernel, schema)


# Fixed-point k-means means (:func:`lloyd`): components quantize to
# floor(v * 2^24) BIGINTs, so a mean is a pure function of exact,
# order-independent integer sums — bit-portable to the DuckDB twin.
IVF_FP_BITS = 24
_FP_ONE = float(1 << IVF_FP_BITS)


def _l2sq(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared L2 of every (a row, b row) pair as :func:`_cosine`: the
    ``similarity.l2sq_expr`` fold ``acc + (a - b) * (a - b)`` from 0.0."""
    acc = np.zeros((a.shape[1], b.shape[1]))
    with np.errstate(all="ignore"):
        for ai, bi in zip(a, b):
            d = ai[:, None] - bi[None, :]
            acc += d * d
    return acc


def _ranked(vecs: pa.Array, groups: dict, k: int, cosine: bool) -> tuple:
    """(order, score, null) of every row against ``k`` centroids
    (``groups``), ``order`` best first: cosine descending with NaN first
    (Spark's NaN is the largest double), L2 ascending with NaN after
    every number; NULL last; ties to the lower position (label)."""
    score = np.zeros((len(vecs), k))
    null = np.ones(score.shape, dtype=bool)
    for w, (pos, cols, dots) in _groups(vecs).items():
        if w in groups:
            cpos, ccols, cdots = groups[w]
            ix = np.ix_(pos, cpos)
            if cosine:
                score[ix], null[ix] = _cosine(cols, dots, ccols, cdots)
            else:
                score[ix], null[ix] = _l2sq(cols, ccols), False
    nan = np.isnan(score)
    cls = np.where(null, 2, np.where(nan, int(not cosine), int(cosine)))
    key = np.where(null | nan, 0.0, -score if cosine else score)
    order = np.lexsort((np.broadcast_to(np.arange(k), score.shape), key, cls))
    return order, score, null


def _books(centroids: DataFrame, dsub: int | None) -> dict[int, tuple]:
    """The collected (label, centroid) frame, or (sub, label, centroid)
    with ``dsub``: per sub, (labels ascending, float64 centroids)."""
    t = centroids.toArrow()
    t = t.sort_by([(c, "ascending") for c in t.column_names[:-1]])
    subs = np.zeros(t.num_rows, int) if dsub is None else t.column(0).to_numpy()
    labels = t.columns[-2].to_numpy()
    cents = t.columns[-1].combine_chunks().cast(pa.list_(pa.float64()))
    return {int(s): (labels[subs == s], cents.filter(pa.array(subs == s))) for s in np.unique(subs)}


def nearest_centroids(vecs: DataFrame, books: dict, dsub: int | None, emit, schema) -> DataFrame:
    """The one nearest-centroid pass: ``mapInArrow`` over row blocks of
    the (id, vector) frame against driver-held :func:`_books`. ``dsub``
    None ranks whole vectors by cosine (IVF); else sub ``s`` ranks the
    clipped slice ``[s * dsub, (s + 1) * dsub)`` by squared L2 (PQ). A
    block holds at most :data:`PAIR_BLOCK` scores per sub. ``emit`` maps
    (block, {sub: (slice, *_ranked)}) pairs to batches of ``schema``."""
    if not books:
        return vecs.sparkSession.createDataFrame([], schema)
    groups = {s: (len(labels), _groups(cents)) for s, (labels, cents) in books.items()}
    step = max(1, PAIR_BLOCK // max(k for k, _ in groups.values()))

    def scored(batches: Iterator[pa.RecordBatch]):
        for batch in batches:
            for r in range(0, batch.num_rows, step):
                block, ranked = batch.slice(r, step), {}
                for s, (k, g) in groups.items():
                    sv = block.column(1)
                    if dsub is not None:
                        sv = pc.list_slice(sv, s * dsub, (s + 1) * dsub)
                    ranked[s] = (sv, *_ranked(sv, g, k, dsub is None))
                yield block, ranked

    return vecs.mapInArrow(lambda batches: emit(scored(batches)), schema)


def nearest_cells(vecs: DataFrame, centroids: DataFrame, n: int) -> DataFrame:
    """(id, vector, label, cosine): each row of the (id, vector) frame
    once per each of its ``n`` best (label, centroid) rows by cosine.
    Column names are the two frames'."""
    books = _books(centroids, None)
    cosine = StructField("cosine", DoubleType(), True)
    schema = StructType(vecs.schema.fields[:2] + [centroids.schema.fields[0], cosine])

    def emit(blocks):
        for block, ranked in blocks:
            _, order, cos, null = ranked[0]
            at = order[:, :n].ravel()
            rows = np.repeat(np.arange(block.num_rows), min(n, order.shape[1]))
            yield pa.RecordBatch.from_arrays(
                [block.column(0).take(rows), block.column(1).take(rows),
                 pa.array(books[0][0][at]),
                 pa.array(cos[rows, at], pa.float64(), mask=null[rows, at])],
                names=schema.fieldNames(),
            )

    return nearest_centroids(vecs, books, None, emit, schema)


def nearest_codes(vecs: DataFrame, codebooks: DataFrame, dsub: int) -> DataFrame:
    """(id, codes): per sub of the (sub, code, codeword) frame, in sub
    order, the code of the L2-nearest codeword to the row's slice."""
    books = _books(codebooks, dsub)
    schema = StructType([vecs.schema.fields[0], StructField("codes", ArrayType(IntegerType()))])

    def emit(blocks):
        for block, ranked in blocks:
            codes = np.stack([books[s][0][r[1][:, 0]] for s, r in ranked.items()], 1).astype(np.int32)
            offsets = np.arange(0, codes.size + 1, codes.shape[1], dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [block.column(0), pa.ListArray.from_arrays(offsets, codes.ravel())],
                names=schema.fieldNames(),
            )

    return nearest_centroids(vecs, books, dsub, emit, schema)


def code_distances(vecs: DataFrame, codebooks: DataFrame, dsub: int) -> DataFrame:
    """(id, luts): per sub of the (sub, code, codeword) frame, in sub
    order, the squared L2 from the row's slice to every codeword in code
    order; NULL where the fold is (a NULL slice or element, a width
    mismatch)."""
    books = _books(codebooks, dsub)
    schema = StructType([vecs.schema.fields[0], StructField("luts", ArrayType(ArrayType(DoubleType())))])

    def emit(blocks):
        for block, ranked in blocks:
            _, _, dist, null = zip(*ranked.values())
            ks = [d.shape[1] for d in dist]
            flat = pa.array(np.hstack(dist).ravel(), pa.float64(), mask=np.hstack(null).ravel())
            lut = pa.ListArray.from_arrays(np.cumsum([0] + ks * block.num_rows, dtype=np.int32), flat)
            subs = pa.ListArray.from_arrays(np.arange(0, len(lut) + 1, len(ks), dtype=np.int32), lut)
            yield pa.RecordBatch.from_arrays([block.column(0), subs], names=schema.fieldNames())

    return nearest_centroids(vecs, books, dsub, emit, schema)


_SUMS = ("key", "sum", "n", "nn")


def _reduce(keys: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Partials added per distinct key, exactly (int64)."""
    keys, inv = np.unique(keys, return_inverse=True)
    out = np.zeros((len(keys), vals.shape[1]), np.int64)
    np.add.at(out, inv, vals)
    return keys, out


def _fixed(flat: pa.Array) -> np.ndarray:
    """``floor(v * 2^IVF_FP_BITS)`` as Spark's BIGINT floor (NaN to 0,
    saturating at the int64 range); a NULL element reads 0."""
    q = np.floor(flat.fill_null(0).to_numpy(zero_copy_only=False) * _FP_ONE)
    fixed = np.clip(np.nan_to_num(q, nan=0.0), -(2.0**63), 2.0**63 - 1024).astype(np.int64)
    fixed[q >= 2.0**63] = np.iinfo(np.int64).max
    return fixed


def _sums(blocks) -> Iterator[pa.RecordBatch]:
    """A task's Lloyd partials per key ``sub << 48 | centroid << 24 |
    element``: the sum of :func:`_fixed` values, the element count ``n``
    and the non-NULL count ``nn``. A NULL vector adds nothing."""
    keys, vals = np.zeros(0, np.int64), np.zeros((0, 3), np.int64)
    for _, ranked in blocks:
        for s, (sv, order, _, _) in ranked.items():
            lens = pc.list_value_length(sv).fill_null(0).to_numpy()
            flat = pc.list_flatten(sv)
            rows = np.repeat(np.arange(len(lens)), lens)
            pos = np.arange(len(rows)) - np.repeat(np.cumsum(lens) - lens, lens)
            valid = ~flat.is_null().to_numpy(zero_copy_only=False)
            keys = np.concatenate([keys, (s << 48) | (order[rows, 0] << 24) | pos])
            vals = np.concatenate([vals, np.stack([_fixed(flat), np.ones(len(rows), np.int64), valid], 1)])
        keys, vals = _reduce(keys, vals)
    if len(keys):
        yield pa.RecordBatch.from_arrays(
            [pa.array(keys)] + [pa.array(v) for v in vals.T], names=_SUMS
        )


def _means(books: dict[int, tuple], keys: np.ndarray, vals: np.ndarray) -> dict:
    """Each centroid with members replaced by their mean
    ``floor(sum / n) / 2^IVF_FP_BITS`` per element, NULL where every
    member's element is NULL, as wide as the widest member; a centroid
    without members keeps its value."""
    with np.errstate(all="ignore"):
        mean = np.floor(vals[:, 0].astype(np.float64) / vals[:, 1]) / _FP_ONE
    new = {s: cents.to_pylist() for s, (_, cents) in books.items()}
    for c in np.unique(keys >> 24):  # each (sub, centroid) with members
        at = keys >> 24 == c  # its elements, positions ascending
        new[c >> 24][c & 0xFFFFFF] = [float(v) if nn else None for v, nn in zip(mean[at], vals[at, 2])]
    return {s: (labels, pa.array(new[s], pa.list_(pa.float64()))) for s, (labels, _) in books.items()}


def lloyd(vecs: DataFrame, centroids: DataFrame, n_iters: int, dsub: int | None = None):
    """Fixed-point Lloyd k-means from the init ``centroids``: (label,
    centroid) cells by cosine, or (sub, label, centroid) codewords by L2
    with ``dsub``. The centroids stay on the driver; each iteration is
    one :func:`nearest_centroids` pass returning :func:`_sums`, added
    exactly into :func:`_means`. Returns a local frame of the init's
    columns with float64 centroids."""
    books, schema = _books(centroids, dsub), ", ".join(c + " long" for c in _SUMS)
    for _ in range(int(n_iters)):
        t = nearest_centroids(vecs, books, dsub, _sums, schema).toArrow()
        cols = [t.column(c).to_numpy() for c in _SUMS]
        books = _means(books, *_reduce(cols[0], np.stack(cols[1:], 1)))
    names = centroids.columns
    rows = [(s, int(label), c)[-len(names):] for s, (labels, cents) in books.items()
            for label, c in zip(labels, cents.to_pylist())]
    types = ("int", "int", "array<double>")[-len(names):]
    return vecs.sparkSession.createDataFrame(rows, ", ".join(map(" ".join, zip(names, types))))

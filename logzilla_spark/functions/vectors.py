"""Pinned-order cosine as one blocked Arrow kernel.

Exact cosine near-dup (``dedup.embedding_neardup_pairs``) and brute-force
top-k (``similarity.cosine_topk``) score blocks of rows against a whole
right-hand side. Both run here as one ``mapInArrow`` stage: the driver
collects the right-hand side once with ``toArrow()`` (the side the
nested-loop join used to broadcast, so the size assumption is
unchanged), sorted by id and cut into tiles, and a task scores blocks
of rows against every tile, at most :data:`PAIR_BLOCK` pairs at a time,
applying the threshold or the per-probe partial top-k inside the block.
Top-k blocks come from the corpus's Arrow batches; near-dup pairs the
matrix with itself, so its blocks are slices of the matrix.

Bits. The semantic definition stays the sequential fold of
``dedup.dot_expr`` and its DuckDB twin: products of float->double
casts summed left to right from a ``0.0`` seed. Each dot here is the
column loop ``acc = acc + a[:, i] * b[:, i]`` over a block of pairs:
the same IEEE-754 operations in the same order for every pair (numpy
neither reassociates an elementwise add nor fuses a multiply-add; only
BLAS ``matmul`` would), so the doubles are bit-identical. Self-dots use
the same loop, and ``dot / sqrt(da * db)`` with a zero divisor is NULL
as Spark's ``try_divide`` and DuckDB's ``x / 0`` are.

NULLs, as in the fold: a NULL array, a NULL element or a width mismatch
makes the cosine NULL. Vectors are grouped by width and a pair is only
computed inside one group. A NULL id never pairs (``<`` and ``!=`` on
NULL are NULL).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

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

"""Exact set-overlap pairs as one blocked Arrow kernel.

Two near-dup operators pair documents that share a set element, and
both run here as one ``mapInArrow`` stage with no candidate rows:

- n-gram Jaccard (``dedup.ngram_jaccard_pairs``): the elements are a
  document's word grams, and a pair's score is its overlap count;
- MinHash LSH (``dedup.minhash_lsh_pairs``): the elements are a
  document's (band, band hash) buckets, and a pair sharing one is
  verified by signature agreement and exact shingle intersection.

The postings and the task dealing also serve ``vectors.keyed_pairs``
(LSH near-dup, SemDeDup): each vector is a document of one element.

The driver collects the frame once with ``toArrow()``, encodes the
elements to exact int ids (no hashing, so no collision caveat) and
builds the inverted index as postings sorted by (element, document).
A task takes blocks of documents; for each posting of a block's
document it expands the element's later postings (documents with a
larger id), so every pair sharing an element shows up in its doc_a
block, and applies the threshold before anything leaves the task.
n-gram Jaccard counts each (doc_a, doc_b) overlap with a sort-based
``np.unique(..., return_counts=True)``; MinHash takes the distinct
pairs the same way and verifies them in the block. Blocks are cut by
documents on the doc_a side, so a pair's whole count lands in one
block and only surviving pairs are ever rows.

Bits. Sizes and overlaps are integers; the double operations are
``matches / n_hashes`` and ``inter / union`` on float64, as in the
Catalyst expressions (``dedup._est_expr``) and the DuckDB twins'
``CAST(inter_n AS DOUBLE) / CAST(union_n AS DOUBLE)``
(``oracle_dataops``), so the values and the ``>=`` tests are
bit-identical.

Size assumption: the collected frame fits the driver and rides in
every task's closure (Spark broadcasts a closure over 1 MB) — the sf1
documents corpus has ~2.6M (document, gram) postings and at most
~15M (document, shingle hash) entries (120 MB as int64 probe keys,
which every task holds), collected once as the cosine matrix is in
``vectors.py``; the keyed cosine sites hold one posting per vector.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# Most (posting, partner) hits one block counts, plus at most one
# document's own: 8 MiB of int64 keys, so the count's sort stays small.
HIT_BLOCK = 1 << 20
# Most shingle probes one MinHash block may need (its documents' hits
# times their shingle counts, an upper bound), plus one document's own.
PROBE_BLOCK = 1 << 22


def _documents(ids: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Documents are the sorted distinct non-NULL ids: (ids, each
    document's first row, each row's document or -1 for a NULL id)."""
    valid = np.flatnonzero(ids.is_valid().to_numpy(zero_copy_only=False))
    uid, first, doc_of = np.unique(
        ids.take(valid).to_numpy(zero_copy_only=False),
        return_index=True, return_inverse=True,
    )
    doc = np.full(len(ids), -1)
    doc[valid] = doc_of
    return uid, valid[first], doc


class _Postings:
    """The inverted index of (element, row) postings, as blocks of
    documents can expand it.

    ``max_df`` drops elements held by more than ``max_df`` rows; every
    row counts toward an element's frequency, NULL-id rows included,
    though a NULL id never pairs.
    """

    def __init__(self, elem: np.ndarray, row: np.ndarray, doc: np.ndarray,
                 n_docs: int, max_df: int | None):
        keep = doc[row] >= 0
        if max_df is not None:
            keep &= np.bincount(elem)[elem] <= max_df
        # postings sorted by (element, doc) as one int64 key; a
        # posting's partners run from the end of its (element, doc) run
        # to its element's end
        key = np.sort(elem[keep].astype(np.int64) * n_docs + doc[row[keep]])
        pdoc = key % n_docs
        start = np.searchsorted(key, key, side="right")
        hits = np.searchsorted(key, (key // n_docs + 1) * n_docs) - start
        # the same postings in document order: a block is one slice of
        # them. Tasks get int32 copies (positions < 2^31): they ride in
        # the task closure, which Spark broadcasts once it outgrows 1 MB.
        by_doc = np.argsort(pdoc, kind="stable")
        self.n_docs = n_docs
        self.start = start[by_doc].astype(np.int32)
        self.hits = hits[by_doc].astype(np.int32)
        self.ptr = np.concatenate(([0], np.cumsum(np.bincount(pdoc, minlength=n_docs))))
        self.doc_hits = np.bincount(pdoc, weights=hits, minlength=n_docs)
        self.pdoc = pdoc.astype(np.int32)

    def partners(self, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
        """(a, b) for every hit of documents lo..hi-1: a is the block
        position of the posting's document, b its partner document."""
        s = slice(self.ptr[lo], self.ptr[hi])
        n = self.hits[s].astype(np.int64)
        base = np.repeat(self.start[s] - (np.cumsum(n) - n), n)
        b = self.pdoc[base + np.arange(n.sum())]
        a = np.repeat(np.repeat(np.arange(hi - lo), np.diff(self.ptr[lo : hi + 1])), n)
        return a, b

    def blocks(self, *limits: tuple[np.ndarray, int]) -> list[tuple[int, int]]:
        """Document ranges, cut where a running per-document weight
        reaches the next multiple of its block size (hits per document
        against ``HIT_BLOCK``, plus any ``(weight, size)`` limits):
        each block holds at most one size of each weight plus one
        document's own. Documents without hits make no block."""
        if not self.doc_hits.any():
            return []
        cuts = [[0, self.n_docs]]
        for weight, size in ((self.doc_hits, HIT_BLOCK), *limits):
            run = np.cumsum(weight)
            cuts.append(np.searchsorted(run, np.arange(size, run[-1], size)) + 1)
        cuts = np.unique(np.concatenate(cuts))
        return list(zip(cuts[:-1], cuts[1:]))


def _deal(
    spark, blocks: list[tuple[int, int]],
    score: Callable[[int, int], pa.RecordBatch | None], schema: StructType,
) -> DataFrame:
    """One frame of ``score``'s rows over every block, the blocks dealt
    round-robin to a ``spark.range`` of tasks."""
    n_tasks = max(1, min(spark.sparkContext.defaultParallelism, len(blocks)))

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for task in batch.column(0).to_numpy():
                for lo, hi in blocks[task::n_tasks]:
                    out = score(lo, hi)
                    if out is not None:
                        yield out

    return spark.range(n_tasks, numPartitions=n_tasks).mapInArrow(kernel, schema)


def jaccard_pairs_above(
    sets: DataFrame, threshold: float, max_df: int | None
) -> DataFrame:
    """(doc_a, doc_b, inter_n, union_n, jaccard) for every pair of rows
    of the (id, distinct-element array) frame with doc_a < doc_b and
    jaccard >= ``threshold``.

    ``max_df`` drops elements held by more than ``max_df`` rows (the
    stop-gram guard) from the overlap count only: a row's size is its
    whole set, and every row counts toward an element's frequency,
    NULL-id rows included, though a NULL id never pairs. Rows sharing an
    id pool their postings under it and take the first row's size.
    """
    t = sets.toArrow()
    ids, lists = t.column(0).combine_chunks(), t.column(1).combine_chunks()
    sz = pc.list_value_length(lists).fill_null(0).to_numpy()
    gram = pc.dictionary_encode(pc.list_flatten(lists)).indices.to_numpy(zero_copy_only=False)
    row = pc.list_parent_indices(lists).to_numpy()
    uid, first, doc = _documents(ids)
    n_docs = len(uid)
    size = sz[first].astype(np.int64)
    postings = _Postings(gram, row, doc, n_docs, max_df)
    uid_arrow = pa.array(uid, type=ids.type)

    schema = StructType([
        StructField("doc_a", sets.schema.fields[0].dataType),
        StructField("doc_b", sets.schema.fields[0].dataType),
        StructField("inter_n", LongType(), False),
        StructField("union_n", LongType()),
        StructField("jaccard", DoubleType()),
    ])

    def count(lo: int, hi: int) -> pa.RecordBatch | None:
        a, b = postings.partners(lo, hi)
        if not len(a):
            return None
        pair, inter = np.unique(a * n_docs + b, return_counts=True)
        a, b = pair // n_docs + lo, pair % n_docs
        union = size[a] + size[b] - inter
        jac = inter / union
        ok = jac >= threshold
        if not ok.any():
            return None
        return pa.RecordBatch.from_arrays(
            [uid_arrow.take(a[ok]), uid_arrow.take(b[ok]),
             pa.array(inter[ok]), pa.array(union[ok]), pa.array(jac[ok])],
            names=schema.fieldNames(),
        )

    return _deal(sets.sparkSession, postings.blocks(), count, schema)


def minhash_pairs_above(
    feats: DataFrame,
    n_hashes: int,
    min_est: float,
    min_jaccard: float,
    max_bucket: int | None,
) -> DataFrame:
    """(doc_a, doc_b, est_sim, inter_n, union_n, jaccard) for every pair
    of rows of the (id, sig, band hashes, shingles) frame whose ids
    share a band bucket, with doc_a < doc_b, est_sim >= ``min_est`` and
    jaccard >= ``min_jaccard``.

    ``sig`` is the MinHash signature, ``band hashes`` one md5_long
    (< 2^60) per band and ``shingles`` the distinct int shingle hashes.
    A bucket is a (band, band hash) element: a bucket held by more than
    ``max_bucket`` rows is dropped, NULL-id rows counting toward it
    though they never pair. Candidates are distinct id pairs, and each
    is verified once per pair of its feature rows (a duplicate id gives
    one row per feature-row pair), with the Catalyst rules:

    - est_sim is the count of positions where both signatures hold the
      same non-NULL value, over ``n_hashes``; a NULL signature drops
      the pair;
    - inter_n counts shared shingles, a NULL shingle matching a NULL as
      ``array_intersect`` does; sizes count NULLs; a NULL shingle set
      drops the pair.
    """
    t = feats.toArrow()
    ids, sig, bands, sh = (t.column(i).combine_chunks() for i in range(4))
    uid, _, doc = _documents(ids)
    n_docs = len(uid)

    # bucket elements: band k's hash h is the key k << 60 | h
    _, hashes, has_hash = _padded(bands)
    row, band = np.nonzero(has_hash)
    _, elem = np.unique((band << 60) | hashes[row, band], return_inverse=True)
    postings = _Postings(elem, row, doc, n_docs, max_bucket)

    # feature rows grouped by document
    rows = np.flatnonzero(doc >= 0)
    by_doc = rows[np.argsort(doc[rows], kind="stable")]
    n_rows = np.bincount(doc[rows], minlength=n_docs)
    row_ptr = np.concatenate(([0], np.cumsum(n_rows)))

    sig_ok, sig_v, sig_m = _padded(sig)
    sh_ok = sh.is_valid().to_numpy(zero_copy_only=False)
    sh_n = pc.list_value_length(sh).fill_null(0).to_numpy().astype(np.int64)
    # every row's shingles as sorted (row << 33) + 2^31 + value keys,
    # a NULL shingle as 2^32 (no int32 value maps there)
    sh_flat = pc.list_flatten(sh)
    sh_key = np.sort(
        (pc.list_parent_indices(sh).to_numpy().astype(np.int64) << 33)
        + np.where(
            sh_flat.is_valid().to_numpy(zero_copy_only=False),
            sh_flat.fill_null(0).to_numpy().astype(np.int64) + (1 << 31),
            1 << 32,
        )
    )
    sh_ptr = np.concatenate(([0], np.cumsum(sh_n)))
    doc_sh = np.bincount(doc[rows], weights=sh_n[rows], minlength=n_docs)
    uid_arrow = pa.array(uid, type=ids.type)

    id_type = feats.schema.fields[0].dataType
    schema = StructType([
        StructField("doc_a", id_type),
        StructField("doc_b", id_type),
        StructField("est_sim", DoubleType()),
        StructField("inter_n", IntegerType()),
        StructField("union_n", IntegerType()),
        StructField("jaccard", DoubleType()),
    ])

    def verify(lo: int, hi: int) -> pa.RecordBatch | None:
        a, b = postings.partners(lo, hi)
        pair = np.unique(a * n_docs + b)
        a, b = pair // n_docs + lo, pair % n_docs
        # one candidate per (doc_a row, doc_b row)
        nb = n_rows[b]
        m = n_rows[a] * nb
        p = np.repeat(np.arange(len(a)), m)
        k = np.arange(len(p)) - np.repeat(np.cumsum(m) - m, m)
        ra = by_doc[row_ptr[a][p] + k // nb[p]]
        rb = by_doc[row_ptr[b][p] + k % nb[p]]
        match = (sig_v[ra] == sig_v[rb]) & sig_m[ra] & sig_m[rb]
        est = match.sum(axis=1) / float(n_hashes)
        ok = sig_ok[ra] & sig_ok[rb] & sh_ok[ra] & sh_ok[rb] & (est >= min_est)
        ra, rb, est = ra[ok], rb[ok], est[ok]
        # probe the smaller set's keys into the other row's, grouped by
        # that row so consecutive searches end in the same few keys
        small = sh_n[ra] <= sh_n[rb]
        src, dst = np.where(small, ra, rb), np.where(small, rb, ra)
        by_dst = np.argsort(dst, kind="stable")
        ra, rb, est, src, dst = (x[by_dst] for x in (ra, rb, est, src, dst))
        n = sh_n[src]
        pos = np.repeat(sh_ptr[src] - (np.cumsum(n) - n), n) + np.arange(n.sum())
        probe = sh_key[pos] + np.repeat((dst - src) << 33, n)
        at = np.minimum(np.searchsorted(sh_key, probe), len(sh_key) - 1)
        found = np.concatenate(([0], np.cumsum(sh_key[at] == probe)))
        end = np.cumsum(n)
        inter = found[end] - found[end - n]
        union = sh_n[ra] + sh_n[rb] - inter
        jac = inter / union
        ok = jac >= min_jaccard
        if not ok.any():
            return None
        return pa.RecordBatch.from_arrays(
            [uid_arrow.take(doc[ra[ok]]), uid_arrow.take(doc[rb[ok]]),
             pa.array(est[ok]), pa.array(inter[ok].astype(np.int32)),
             pa.array(union[ok].astype(np.int32)), pa.array(jac[ok])],
            names=schema.fieldNames(),
        )

    blocks = postings.blocks((postings.doc_hits * doc_sh, PROBE_BLOCK))
    return _deal(feats.sparkSession, blocks, verify, schema)


def _padded(lists: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A list column as (row is non-NULL, values, value is non-NULL),
    the last two as matrices padded to the longest list; a padding
    position is NULL."""
    n = pc.list_value_length(lists).fill_null(0).to_numpy()
    flat = pc.list_flatten(lists)
    row = pc.list_parent_indices(lists).to_numpy()
    col = np.arange(len(flat)) - np.repeat(np.cumsum(n) - n, n)
    width = int(n.max()) if len(n) else 0
    values = np.zeros((len(lists), width), np.int64)
    valid = np.zeros((len(lists), width), bool)
    values[row, col] = flat.fill_null(0).to_numpy()
    valid[row, col] = flat.is_valid().to_numpy(zero_copy_only=False)
    return lists.is_valid().to_numpy(zero_copy_only=False), values, valid

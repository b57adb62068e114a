"""Exact set-overlap Jaccard as one blocked Arrow kernel.

n-gram Jaccard near-dup (``dedup.ngram_jaccard_pairs``) scores every
pair of documents that share a kept set element. It runs here as one
``mapInArrow`` stage, with no candidate rows: the driver collects the
(id, set) frame once with ``toArrow()``, dictionary-encodes the
elements to exact int ids (no hashing, so no collision caveat), and
builds the inverted index as postings sorted by (element, document).
A task takes blocks of documents; for each posting of a block's
document it expands the element's later postings (documents with a
larger id), counts each (doc_a, doc_b) overlap with a sort-based
``np.unique(..., return_counts=True)`` and applies the threshold before
anything leaves the task. Blocks are cut by documents on the doc_a
side, so a pair's whole count lands in one block and only surviving
pairs are ever rows.

Bits. Sizes and overlaps are integers; the one double operation is
``inter / union`` on float64, as the DuckDB twin's
``CAST(inter_n AS DOUBLE) / CAST(za.sz + zb.sz - inter_n AS DOUBLE)``
(``oracle_dataops.ngram_jaccard_pairs_sql``), so the jaccard values and
the ``>=`` test are bit-identical.

Size assumption: the postings fit the driver — the sf1 documents
corpus has ~2.6M (document, gram) postings, a few tens of MB as int64
arrays, collected once as the cosine matrix is in ``vectors.py``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

# Most (posting, partner) hits one block counts, plus at most one
# document's own: 8 MiB of int64 keys, so the count's sort stays small.
HIT_BLOCK = 1 << 20


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
    flat = pc.list_flatten(lists)
    gram = pc.dictionary_encode(flat).indices.to_numpy(zero_copy_only=False)
    row = pc.list_parent_indices(lists).to_numpy()
    has_id = ids.is_valid().to_numpy(zero_copy_only=False)
    keep = has_id[row]
    if max_df is not None:
        keep &= np.bincount(gram)[gram] <= max_df
    # documents: positions of the sorted distinct non-NULL ids
    valid = np.flatnonzero(has_id)
    uid, first, doc_of = np.unique(
        ids.take(valid).to_numpy(zero_copy_only=False),
        return_index=True, return_inverse=True,
    )
    n_docs = len(uid)
    size = sz[valid[first]].astype(np.int64)
    doc = np.full(len(ids), -1)
    doc[valid] = doc_of
    # postings sorted by (gram, doc) as one int64 key; a posting's
    # partners run from the end of its (gram, doc) run to its gram's end
    key = np.sort(gram[keep].astype(np.int64) * n_docs + doc[row[keep]])
    pdoc = key % n_docs
    start = np.searchsorted(key, key, side="right")
    hits = np.searchsorted(key, (key // n_docs + 1) * n_docs) - start
    # the same postings in document order: a block is one slice of
    # them. Tasks get int32 copies (positions < 2^31): they ride in the
    # task closure, which Spark broadcasts once it outgrows 1 MB.
    by_doc = np.argsort(pdoc, kind="stable")
    p_start, p_hits = start[by_doc].astype(np.int32), hits[by_doc].astype(np.int32)
    doc_ptr = np.concatenate(([0], np.cumsum(np.bincount(pdoc, minlength=n_docs))))
    doc_hits = np.cumsum(np.bincount(pdoc, weights=hits, minlength=n_docs))
    total = doc_hits[-1] if n_docs else 0
    # a block ends at the document whose running hits reach the next
    # multiple of HIT_BLOCK: at most HIT_BLOCK + that document's hits
    ends = np.searchsorted(doc_hits, np.arange(HIT_BLOCK, total, HIT_BLOCK)) + 1
    cuts = np.unique(np.concatenate(([0], ends, [n_docs])))
    blocks = list(zip(cuts[:-1], cuts[1:])) if total else []
    uid_arrow = pa.array(uid, type=ids.type)
    pdoc = pdoc.astype(np.int32)

    id_type = sets.schema.fields[0].dataType
    schema = StructType([
        StructField("doc_a", id_type),
        StructField("doc_b", id_type),
        StructField("inter_n", LongType(), False),
        StructField("union_n", LongType()),
        StructField("jaccard", DoubleType()),
    ])

    def count(lo: int, hi: int) -> pa.RecordBatch | None:
        s = slice(doc_ptr[lo], doc_ptr[hi])
        n = p_hits[s].astype(np.int64)
        if not n.any():
            return None
        # partner postings of every block posting, in one index array
        base = np.repeat(p_start[s] - (np.cumsum(n) - n), n)
        b = pdoc[base + np.arange(n.sum())]
        a = np.repeat(np.repeat(np.arange(hi - lo), np.diff(doc_ptr[lo : hi + 1])), n)
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

    spark = sets.sparkSession
    n_tasks = max(1, min(spark.sparkContext.defaultParallelism, len(blocks)))

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for task in batch.column(0).to_numpy():
                for lo, hi in blocks[task::n_tasks]:
                    out = count(lo, hi)
                    if out is not None:
                        yield out

    return spark.range(n_tasks, numPartitions=n_tasks).mapInArrow(kernel, schema)

"""Seeded, explicitly sized benchmark inputs, written under the work directory.

The program under test only ever sees these files. Nothing here sizes an
input through ``testdata.ensure_pages``: that helper maps a directory
name to a page count and falls back to 500 pages for names it does not
know.

- Pages come from ``testdata.generate_pages_pdf(n, start=offset)``. The
  generator is a pure function of the page index and has no random state
  of its own, so the seed picks the offset of the first page.
- The curation corpus (``documents`` and ``embeddings``) is a seeded row
  permutation of the sample in ``perfbench/corpus/``: the first
  ``N_DOCS`` documents and ``N_EMB`` embeddings (by id) of the
  repository's sf0.1 test tables. A prefix keeps the tables' near-
  duplicates, which point back at earlier documents. Ids stay with their
  rows, so every seed asks for the same result and the same work, laid
  out in a different order. Rebuild the sample from an sf0.1 directory
  with ``python3 perfbench/inputs.py <sf0.1 dir>``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SAMPLE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
N_DOCS = 500
N_EMB = 250
ID_COLUMN = {"documents": "doc_id", "embeddings": "vec_id"}

# widest page index the seed can start at; the generator is periodic in
# the index only through its modular fields, so any offset is valid
PAGE_OFFSET_SPAN = 10_000_000

def page_offset(seed: int) -> int:
    """First page index for a seed (pages are a pure function of index)."""
    return int(np.random.default_rng(seed).integers(0, PAGE_OFFSET_SPAN))


def write_pages(path: str, n_pages: int, start: int) -> int:
    """Write pages ``[start, start + n_pages)`` to one parquet file.

    Returns the number of log lines (= records the pipeline routes)."""
    from logzilla_spark.testdata import _pages_arrow_schema, generate_pages_pdf

    pdf = generate_pages_pdf(n_pages, start=start)
    table = pa.Table.from_pandas(pdf, schema=_pages_arrow_schema(), preserve_index=False)
    pq.write_table(table, path)
    return int(pdf["text"].str.count("\n").sum()) + len(pdf)


def write_curate_corpus(out_dir: str, seed: int) -> str:
    """The committed sample, rows permuted by ``seed``, under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    for table in ID_COLUMN:
        t = pq.read_table(os.path.join(SAMPLE_DIR, f"{table}.parquet"))
        pq.write_table(t.take(rng.permutation(t.num_rows)),
                       os.path.join(out_dir, f"{table}.parquet"))
    return out_dir


def sample_corpus(src_dir: str) -> None:
    """Write the first rows by id of an sf0.1 directory's curation tables."""
    os.makedirs(SAMPLE_DIR, exist_ok=True)
    for table, n in (("documents", N_DOCS), ("embeddings", N_EMB)):
        t = pq.read_table(os.path.join(src_dir, f"{table}.parquet"))
        t = t.take(pc.sort_indices(t, [(ID_COLUMN[table], "ascending")])).slice(0, n)
        pq.write_table(t.replace_schema_metadata(None), os.path.join(SAMPLE_DIR, f"{table}.parquet"))


if __name__ == "__main__":
    sample_corpus(sys.argv[1])

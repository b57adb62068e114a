#!/usr/bin/env python
"""Scale probe for the round-3 curation operators: line_dedup and
url_curate.

Same question as scripts/dedup_scale_probe.py (whose synthesized
docs_x{1,10,40} corpora are reused for line_dedup): does wall time
track corpus size + output size (the 100 TB shape), or does a hidden
quadratic/skew stage bite as the corpus grows? url_curate is probed on
the real pages corpora instead — sf0.1 (50k pages) vs sf16 (8M pages,
160x) — because it consumes the (url, warc_ts, ...) shape directly.

Writes BENCH/CURATION_SCALE.md (its own file — DEDUP_SCALE.md is a
curated document; a probe must never truncate it) and prints one JSON
line per measurement.

Usage: python scripts/curation_scale_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from logzilla_spark.session import get_spark  # noqa: E402
from logzilla_spark.operators.textstats import line_dedup  # noqa: E402
from logzilla_spark.operators.urls import url_curate  # noqa: E402
from scripts.dedup_scale_probe import synth  # noqa: E402


def main() -> None:
    spark = get_spark()
    doc_rows = []
    for mult in (1, 10, 40):
        path = synth(spark, mult)
        docs = spark.read.parquet(path)
        spark.catalog.clearCache()
        n_docs = docs.count()
        t0 = time.time()
        n_out = line_dedup(docs).count()
        row = {"op": "line_dedup", "mult": mult, "n_docs": n_docs,
               "sec": round(time.time() - t0, 1), "rows": n_out}
        doc_rows.append(row)
        print(json.dumps(row))

    page_rows = []
    for label, path in (
        ("sf0.1", os.path.join(REPO, ".cache", "pages", "sf0.1", "pages.parquet")),
        ("sf16", os.path.join(REPO, ".cache", "pages", "sf16", "pages.parquet")),
    ):
        if not os.path.exists(path):
            print(json.dumps({"op": "url_curate", "corpus": label, "skipped": True}))
            continue
        pages = spark.read.parquet(path)
        spark.catalog.clearCache()
        n_pages = pages.count()
        t0 = time.time()
        n_out = url_curate(pages).count()
        row = {"op": "url_curate", "corpus": label, "n_pages": n_pages,
               "sec": round(time.time() - t0, 1), "rows": n_out}
        page_rows.append(row)
        print(json.dumps(row))

    lines = [
        "# Curation operators at scale (probe)",
        "",
        f"`scripts/curation_scale_probe.py`, {spark.sparkContext.master}. line_dedup runs on",
        "the dedup probe's synthesized documents corpora (replicated sf0.1",
        "docs — single-line word soup, so every 'line' is a whole doc: the",
        "probe times the shuffle/count-distinct/join/reassembly machinery,",
        "not multi-line semantics, which the unit test covers); url_curate",
        "runs on the real pages corpora.",
        "",
        "| line_dedup: docs | wall | output rows |",
        "|---|---|---|",
    ]
    for r in doc_rows:
        lines.append(f"| {r['n_docs']:,} ({r['mult']}x) | {r['sec']}s | {r['rows']:,} |")
    lines += ["", "| url_curate: pages | wall | output rows |", "|---|---|---|"]
    for r in page_rows:
        lines.append(f"| {r['n_pages']:,} ({r['corpus']}) | {r['sec']}s | {r['rows']:,} |")
    if doc_rows:
        g = doc_rows[-1]["n_docs"] / doc_rows[0]["n_docs"]
        t = doc_rows[-1]["sec"] / max(doc_rows[0]["sec"], 0.1)
        lines += ["", f"line_dedup: corpus {g:.0f}x -> wall {t:.1f}x."]
    if len(page_rows) == 2:
        g = page_rows[-1]["n_pages"] / page_rows[0]["n_pages"]
        t = page_rows[-1]["sec"] / max(page_rows[0]["sec"], 0.1)
        lines += [f"url_curate: corpus {g:.0f}x -> wall {t:.1f}x."]
    lines += [
        "",
        "Sub-corpus-growth wall growth = no hidden quadratic stage: both",
        "operators are scan + uniform-key aggregations (line_dedup's",
        "boilerplate keys are 64-bit hashes with a two-phase",
        "count-distinct; url_curate's dedup is a map-side-partial max_by),",
        "so the remaining cost tracks the scan, which is the 100 TB shape.",
    ]
    with open(os.path.join(REPO, "BENCH", "CURATION_SCALE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({"report": "BENCH/CURATION_SCALE.md"}))
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Dedup-at-scale probe: do the pair operators' plans survive 10-40x?

Correctness lives in the DuckDB oracle at sf0.01; BENCH times sf0.1
(5k docs). This probe answers the remaining question — does runtime
scale with CORPUS+OUTPUT (linear-ish) rather than corpus^2, and do the
bucket/stop-gram guards actually bound the quadratic stages — by
running the three pair operators on deterministic syntheses of the
sf0.1 documents table at 1x / 10x / 40x (5k / 50k / 200k docs).

Synthesis (seedless, hash-deterministic): each original doc yields K
replicas; a replica prefixes a replica-tag and rewrites every 3rd token
to a replica-specific value, so replicas of one doc are NOT near-dups
of each other (heavy perturbation) — corpus grows Kx while the planted
near-dup structure (1 lightly-perturbed copy per 20th doc, same as the
base corpus's own dups) grows linearly. If pair output grew
quadratically the probe would time a different (bigger) problem.

Writes a markdown report and prints one JSON line. The pair-operator
report (BENCH/DEDUP_SCALE.md) is hand-curated after the first run —
re-running with the default op set writes BENCH/DEDUP_SCALE_raw.md so
the curated analysis is never truncated (the bench.py --scaling
lesson); a downstream op set writes BENCH/DEDUP_SCALE_<ops>.md, one
file per op set, so no re-run clobbers another set's report (the
hand-merged cross-set table lives in BENCH/DEDUP_SCALE_DOWNSTREAM.md).

Usage: python scripts/dedup_scale_probe.py [--max-mult 40]
           [--ops any comma list of: minhash,simhash,ngram,clusters,
            passages,bpe,bpetrain,substr,dsir,lm,funnel,gopher]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from logzilla_spark.session import get_spark  # noqa: E402
from logzilla_spark.operators import cluster as C  # noqa: E402
from logzilla_spark.operators import dedup as D  # noqa: E402
from logzilla_spark.operators import textstats as T  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CACHE = os.path.join(REPO, ".cache", "dedup_scale")


def synth(spark, mult: int) -> str:
    """Deterministic mult-x documents table, cached as parquet."""
    out = os.path.join(CACHE, f"docs_x{mult}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    if mult == 1:
        docs.write.mode("overwrite").parquet(out)
        return out
    # replica k of doc d: new id = d + k*10_000_000; every 3rd token
    # rewritten to a (d, k)-specific value; ~1/20 docs additionally get
    # ONE lightly-perturbed copy (k=mult slot) so planted near-dups
    # scale linearly with the corpus
    reps = docs.select(
        "doc_id", "text", "lang", "source", "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("k"),
    )
    heavy = (
        "array_join(transform(split(text, ' '), (t, i) -> "
        "IF(i % 3 = 2, concat('r', cast(doc_id % 97 as string), 'x', "
        "cast(k as string), 'v', cast(i % 11 as string)), t)), ' ')"
    )
    base = reps.select(
        (F.col("doc_id") + F.col("k") * F.lit(10_000_000)).alias("doc_id"),
        F.when(F.col("k") == 0, F.col("text"))
        .otherwise(F.expr(heavy))
        .alias("text"),
        "lang", "source", "n_chars",
    )
    light = (
        "array_join(transform(split(text, ' '), (t, i) -> "
        "IF(i = 7, 'neardupmark', t)), ' ')"
    )
    planted = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(mult) * F.lit(10_000_000)).alias("doc_id"),
        F.expr(light).alias("text"),
        "lang", "source", "n_chars",
    )
    base.unionByName(planted).write.mode("overwrite").parquet(out)
    return out


OPS = {
    "minhash": lambda d: D.minhash_lsh_pairs(d),
    "simhash": lambda d: D.simhash_pairs(d),
    "ngram": lambda d: D.ngram_jaccard_pairs(d),
    # downstream/auxiliary operators over the same corpus:
    # clusters = CC over the ngram pair graph (sparse edges — the probe
    # times the clustering, not a second minhash); passages and bpe are
    # the scan-shaped text operators (one corpus-sized count shuffle each)
    "clusters": lambda d: C.neardup_clusters(d, D.ngram_jaccard_pairs(d)),
    "passages": lambda d: T.dup_passage_stats(d),
    "bpe": lambda d: T.bpe_pair_counts(d),
    # full training loop: k vocab-sized iterations after one corpus
    # scan — wall time should track the bpe column + a constant
    "bpetrain": lambda d: T.bpe_train(d, n_merges=5),
    "substr": lambda d: T.substring_dedup(d),
    # constant-size target sample (the registered query's shape)
    "dsir": lambda d: T.dsir_scores(d, d.filter("doc_id < 10")),
    # hashed-bigram LM scoring: train side constant (id < 100 of the
    # BASE ids exists at every mult), corpus side one scan + broadcast
    # joins — wall should track corpus size
    "lm": lambda d: T.lm_perplexity(d, d.filter("doc_id < 100")),
    # the composed 6-stage pipeline (gates relaxed for the synthetic
    # corpus exactly like the registered query)
    "funnel": lambda d: T.curation_funnel(
        d, gopher_min_words=20, gopher_min_stop_hits=1
    ),
    "gopher": lambda d: T.gopher_quality_filter(d),
}
PAIR_OPS = ("minhash", "simhash", "ngram")


def main(max_mult: int = 40, ops: tuple = PAIR_OPS) -> None:
    spark = get_spark()
    results = []
    for mult in (1, 10, max_mult):
        path = synth(spark, mult)
        docs = spark.read.parquet(path)
        n_docs = docs.count()
        row = {"mult": mult, "n_docs": n_docs}
        for name in ops:
            spark.catalog.clearCache()
            t0 = time.time()
            n_rows = OPS[name](docs).count()
            row[name] = {"sec": round(time.time() - t0, 1), "pairs": n_rows}
        results.append(row)
        print(json.dumps(row))

    def fmt(r, op):
        return f"{r[op]['sec']}s / {r[op]['pairs']:,}"

    downstream = ops != PAIR_OPS
    lines = [
        "# Downstream dedup/text operators at 10x / 40x corpus"
        if downstream
        else "# Dedup pair operators at 10x / 40x corpus (raw probe)",
        "",
        "Deterministic syntheses of the sf0.1 documents table"
        " (`scripts/dedup_scale_probe.py`): corpus grows Kx, planted"
        " near-dup structure grows linearly, replicas heavily perturbed"
        f" so they are not near-dups of each other. {spark.sparkContext.master}, single"
        " trial per cell (host throughput drifts ±30-60%, see"
        " BENCH/BASELINE.md — read orders of magnitude, not percents)."
        " Cells: wall sec / output rows.",
        "",
        "| docs | " + " | ".join(ops) + " |",
        "|---|" + "---|" * len(ops),
    ]
    for r in results:
        lines.append(
            f"| {r['n_docs']:,} | "
            + " | ".join(fmt(r, op) for op in ops)
            + " |"
        )
    base, top = results[0], results[-1]
    growth = top["n_docs"] / base["n_docs"]
    lines += [
        "",
        f"Corpus grew {growth:.0f}x; wall-time growth per operator: "
        + ", ".join(
            f"{op} {top[op]['sec'] / max(base[op]['sec'], 0.1):.1f}x"
            for op in ops
        )
        + ".",
    ]
    if "clusters" in ops:
        lines += [
            "",
            "`clusters` times connected components over the ngram pair"
            " graph INCLUDING pair generation (compare the ngram column"
            " in BENCH/DEDUP_SCALE.md for the pair-gen share); the CC"
            " rounds themselves are bounded by the planted component"
            " diameter (2), so the loop converges in a constant number"
            " of label-contraction rounds at every scale.",
        ]
    scan_ops = [o for o in ops if o in ("passages", "bpe", "substr", "dsir")]
    if scan_ops:
        lines += [
            "",
            ", ".join(f"`{o}`" for o in scan_ops)
            + " are corpus scans + hash-uniform shuffles — the"
            " token-count operator shape, linear by construction.",
        ]
    if "bpetrain" in ops:
        lines += [
            "",
            "`bpetrain` adds k vocab-sized iterations after one corpus"
            " scan (wall = the bpe column + ~constant per merge).",
        ]
    # per-opset filenames: a re-run with a different downstream op set
    # must not clobber another set's (possibly hand-merged) report
    out_name = (
        f"DEDUP_SCALE_{'_'.join(ops)}.md" if downstream else "DEDUP_SCALE_raw.md"
    )
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", out_name), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({"results": results, "report": f"BENCH/{out_name}"}))
    spark.stop()


if __name__ == "__main__":
    mm = 40
    if "--max-mult" in sys.argv:
        mm = int(sys.argv[sys.argv.index("--max-mult") + 1])
    chosen = PAIR_OPS
    if "--ops" in sys.argv:
        chosen = tuple(sys.argv[sys.argv.index("--ops") + 1].split(","))
        unknown = [o for o in chosen if o not in OPS]
        if unknown:
            raise SystemExit(f"unknown ops: {unknown}; known: {list(OPS)}")
    main(mm, chosen)

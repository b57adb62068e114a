#!/usr/bin/env python
"""Parse-stage ablation: attribute JVM CPU cost per branch.

Times *parse only* (explode + parse + null-safe checksum; no routing,
no sinks) at a given core count over the scaling corpus, for each impl
and for isolated sub-expressions, so optimization work targets the
measured hot spot instead of a guess.

Usage: taskset -c 0-7 python scripts/parse_ablation.py 8 [sf_dir] [variants...]
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.cache/sfdir/sf16"
    only = set(sys.argv[3:])

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{2 * cores}g")
    from pyspark.sql import functions as F

    from logzilla_spark.operators import parse as P
    from logzilla_spark.session import get_spark
    from logzilla_spark.testdata import ensure_pages

    spark = get_spark(cores=cores, app_name=f"ablate[{cores}]")
    d = ensure_pages(sf_dir)
    pages = spark.read.parquet(f"{d}/pages.parquet")
    frac = float(os.environ.get("ABLATE_FILE_FRACTION", "0"))
    if frac:
        import glob

        files = sorted(glob.glob(f"{d}/pages.parquet/part-*"))
        keep = files[: max(1, int(len(files) * frac))]
        pages = spark.read.parquet(*keep)

    def timed(name: str, df, trials: int = 2) -> None:
        best = None
        for _ in range(trials):
            t0 = time.perf_counter()
            row = df.select(F.count(F.lit(1)).alias("n")).collect()[0]
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        print(f"{name:28s} {best:8.2f}s  n={row['n']}", flush=True)

    def timed_agg(name: str, rec, trials: int = 2) -> None:
        """Force every output column with cheap aggregates (no pruning)."""
        best = None
        for _ in range(trials):
            t0 = time.perf_counter()
            row = rec.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("message")).alias("msg"),
                F.sum(F.size("metadata")).alias("meta"),
                F.count("timestamp").alias("ts"),
                F.count(F.when(F.col("parse_ok"), 1)).alias("ok"),
                F.count(F.when(F.col("level") == "INFO", 1)).alias("lvl"),
            ).collect()[0]
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        print(f"{name:28s} {best:8.2f}s  n={row['n']} ok={row['ok']}", flush=True)

    lines = P.explode_lines(pages, use_html=True)

    variants: dict[str, object] = {}
    # baseline: just materialize the exploded lines (scan + split cost)
    variants["explode_only"] = lines.where(F.col("line").isNotNull())
    # isolated sub-expressions over every line
    variants["access_rlike"] = lines.where(F.col("line").rlike(P.ACCESS_RE_SPARK))
    variants["access_full"] = lines.where(
        P._access_exprs(F.col("line"))["ok"]
        & (F.length(P._access_exprs(F.col("line"))["message"]) >= 0)
        & F.size(P._access_exprs(F.col("line"))["metadata"]).isNotNull()
    )
    variants["simple_rlike"] = lines.where(F.col("line").rlike(P.SIMPLE_JSON_RE))
    variants["needs_python"] = lines.where(P.hybrid_needs_python(F.col("line")))
    variants["envdup_rlike"] = lines.where(~F.col("line").rlike(P.ENV_DUP_RE))
    variants["from_json_map"] = lines.where(
        F.from_json(F.col("line"), "map<string,string>").isNotNull()
    )
    for name, df in variants.items():
        if only and name not in only:
            continue
        timed(name, df)
    # full parse impls (aggregate forces every output column)
    for impl in ("native", "hybrid", "arrow"):
        name = f"impl_{impl}"
        if only and name not in only:
            continue
        timed_agg(name, P.parse_records(pages, impl=impl, use_html=True))
    spark.stop()


if __name__ == "__main__":
    main()

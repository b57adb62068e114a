#!/usr/bin/env python
"""Round-6 stage isolation probes (guide §1.4: noop sink; §1.5: labels).

Breaks the heavy dedup operators into stages and times each with the
noop sink so the expensive stage is attributable before optimizing.

Usage: python scripts/stage_probe_r06.py [--sf DIR] [probe ...]
Probes: minhash ngram dsir
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(REPO, ".cache/sfdir/sf1x"))


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 2)


def cnt(df) -> tuple[int, float]:
    t0 = time.perf_counter()
    n = df.count()
    return n, round(time.perf_counter() - t0, 2)


def main() -> None:
    args = sys.argv[1:]
    sf = SF_DIR
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]
    probes = set(args) or {"minhash", "ngram", "dsir"}

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from logzilla_spark.session import get_spark
    from logzilla_spark.operators import dedup

    spark = get_spark(app_name="stage_probe_r06")
    sc = spark.sparkContext
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out: dict[str, object] = {"sf": os.path.basename(os.path.normpath(sf))}

    if "minhash" in probes:
        r = {}
        sc.setJobDescription("minhash: feat noop")
        feat = dedup._minhash_features(docs)
        r["feat_noop_s"] = noop(feat)
        sc.setJobDescription("minhash: feat persist count")
        from logzilla_spark.functions.caching import persist_tracked
        featp = persist_tracked(dedup._minhash_features(docs))
        _, r["feat_persist_s"] = cnt(featp)
        bands = dedup.minhash_band_hashes(featp.select("id", "sig"))
        w = Window.partitionBy("band_id", "band_hash")
        guarded = (
            bands.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= dedup.MAX_LSH_BUCKET)
            .drop("_bn")
        )
        sc.setJobDescription("minhash: guarded bands")
        n, t = cnt(guarded)
        r["band_rows"], r["band_guard_s"] = n, t
        gp = persist_tracked(guarded)
        gp.count()
        bl = gp.select(F.col("band_id").alias("_bi"), F.col("band_hash").alias("_bh"), F.col("id").alias("doc_a"))
        br = gp.select(F.col("band_id").alias("_bi"), F.col("band_hash").alias("_bh"), F.col("id").alias("doc_b"))
        raw = bl.join(br, ["_bi", "_bh"]).filter(F.col("doc_a") < F.col("doc_b"))
        sc.setJobDescription("minhash: raw candidate rows")
        n, t = cnt(raw)
        r["cand_raw_rows"], r["cand_raw_s"] = n, t
        sc.setJobDescription("minhash: distinct candidates")
        n, t = cnt(raw.select("doc_a", "doc_b").distinct())
        r["cand_distinct_rows"], r["cand_distinct_s"] = n, t
        sc.setJobDescription("minhash: full pairs (warm cache)")
        n, t = cnt(dedup.minhash_lsh_pairs(docs))
        r["pairs_rows"], r["pairs_warm_s"] = n, t
        spark.catalog.clearCache()
        sc.setJobDescription("minhash: full pairs (cold)")
        n, t = cnt(dedup.minhash_lsh_pairs(docs))
        r["pairs_cold_s"] = t
        out["minhash"] = r
        spark.catalog.clearCache()

    if "ngram" in probes:
        r = {}
        grams = (
            dedup._spread(docs)
            .filter(F.col("text").isNotNull())
            .select(F.col("doc_id").alias("id"), dedup.normalize_text("text").alias("_n"))
            .withColumn("_t", F.split("_n", " "))
            .select("id", F.expr(dedup._wordgrams_expr("_t")).alias("_g"))
        )
        sc.setJobDescription("ngram: grams noop")
        r["grams_noop_s"] = noop(grams)
        ex = grams.select(
            "id",
            F.explode(
                F.arrays_zip(F.array_repeat(F.size("_g"), F.size("_g")), F.col("_g"))
            ).alias("z"),
        ).select("id", F.col("z")["0"].alias("sz"), F.col("z")["_g"].alias("gram"))
        sc.setJobDescription("ngram: exploded index")
        n, t = cnt(ex)
        r["index_rows"], r["index_s"] = n, t
        w = Window.partitionBy("gram")
        exg = (
            ex.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= dedup.MAX_GRAM_DF)
            .drop("_df")
        )
        sc.setJobDescription("ngram: guarded index")
        n, t = cnt(exg)
        r["index_guarded_rows"], r["index_guard_s"] = n, t
        a = exg.select(F.col("id").alias("doc_a"), F.col("sz").alias("_za"), "gram")
        b = exg.select(F.col("id").alias("doc_b"), F.col("sz").alias("_zb"), "gram")
        joined = a.join(b, "gram").filter(F.col("doc_a") < F.col("doc_b"))
        sc.setJobDescription("ngram: candidate join rows")
        n, t = cnt(joined)
        r["cand_rows"], r["cand_s"] = n, t
        agg = joined.groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias("inter_n"),
            F.first("_za").alias("_za"),
            F.first("_zb").alias("_zb"),
        )
        sc.setJobDescription("ngram: pair aggregation")
        n, t = cnt(agg)
        r["agg_rows"], r["agg_s"] = n, t
        sc.setJobDescription("ngram: full pairs")
        n, t = cnt(dedup.ngram_jaccard_pairs(docs))
        r["pairs_rows"], r["pairs_s"] = n, t
        out["ngram"] = r
        spark.catalog.clearCache()

    if "dsir" in probes:
        from logzilla_spark.operators import textstats
        r = {}
        tgt = docs.filter(F.col("doc_id") < 10)
        sc.setJobDescription("dsir: full")
        n, t = cnt(textstats.dsir_scores(docs, tgt))
        r["rows"], r["full_s"] = n, t
        spark.catalog.clearCache()
        # feature stream alone
        feats = (
            "concat(_t, CASE WHEN size(_t) >= 2 THEN "
            "transform(sequence(1, size(_t) - 1), "
            "i -> concat_ws(' ', slice(_t, i, 2))) "
            "ELSE array() END)"
        )
        from logzilla_spark.functions.hashing import md5_long_expr
        occ = (
            docs.select(F.col("doc_id").alias("id"), dedup.normalize_text("text").alias("_n"))
            .filter(F.col("_n").isNotNull())
            .withColumn("_t", F.split("_n", " "))
            .select("id", F.explode(F.expr(feats)).alias("_g"))
            .select("id", F.pmod(F.expr(md5_long_expr("_g")), F.lit(256)).alias("bucket"))
        )
        sc.setJobDescription("dsir: occurrence stream noop")
        r["occ_noop_s"] = noop(occ)
        n, t = cnt(occ)
        r["occ_rows"] = n
        out["dsir"] = r

    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

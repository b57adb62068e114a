"""q_dedup_clusters verification at SFs where the DuckDB twin's
recursive transitive closure is intractable (sf0.1+: the minhash pair
graph's mega-components make the closure O(sum |C|^2) rows).

The pair set itself is DuckDB-hash-verified independently
(q_dedup_minhash_pairs), so this checks the CLUSTERING step exactly:
the operator's contraction CC (hook, pointer jump, contract) vs a
driver-side union-find over the same collected edge list — two
independent algorithms over the same pairs.

Usage: SPARK_GRAFT_VERIFY_SF=/root/testdata/sf0.1 python scripts/verify_clusters_unionfind.py
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logzilla_spark.functions.unionfind import union_find_min_label  # noqa: E402
from logzilla_spark.operators import cluster, dedup  # noqa: E402
from logzilla_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.1")


def main() -> int:
    spark = get_spark()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs_df = dedup.minhash_lsh_pairs(docs)
    pairs = [
        (r.doc_a, r.doc_b) for r in pairs_df.select("doc_a", "doc_b").collect()
    ]
    print(f"pairs: {len(pairs)}")
    want = union_find_min_label(pairs)

    got = {
        r.id: (r.cluster_id, r.is_canonical)
        for r in cluster.neardup_clusters(docs, pairs_df).collect()
    }
    n_docs = docs.count()
    assert len(got) == n_docs, (len(got), n_docs)
    bad = 0
    for i, (cid, canon) in got.items():
        w = want.get(i, i)  # singleton -> own cluster
        if cid != w or canon != (i == cid):
            bad += 1
            if bad <= 5:
                print(f"MISMATCH id={i} got={cid} want={w} canonical={canon}")
    print("MATCH (union-find exact)" if bad == 0 else f"{bad} mismatches")
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())

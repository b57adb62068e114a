"""Lineage truncation: the deployment picks the checkpoint mode.

``functions/caching.py::truncate`` uses reliable ``checkpoint()`` when
the session was built with ``spark.checkpoint.dir`` and
``localCheckpoint()`` otherwise. ``spark.checkpoint.dir`` is read when
the SparkContext starts and cannot be set at runtime, so the reliable
mode runs in its own process with its own session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from .conftest import SF01

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# builds near-dup clusters in a session whose deployment sets
# spark.checkpoint.dir, reports the checkpoint part-files, then drops
# every cached block and re-reads the clusters from the checkpoints
RELIABLE_PROBE = textwrap.dedent(
    """
    import json, os, sys

    from logzilla_spark.functions.unionfind import union_find_min_label
    from logzilla_spark.operators import cluster, dedup
    from logzilla_spark.session import get_spark

    ckpt, sf_dir = sys.argv[1], sys.argv[2]
    spark = get_spark(cores=2, shuffle_partitions=4, app_name="reliable_truncate",
                      extra_conf={"spark.checkpoint.dir": ckpt})
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs)
    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    clusters = cluster.neardup_clusters(docs, pairs)
    parts = [f for _, _, fs in os.walk(ckpt) for f in fs if f.startswith("part-")]
    print(json.dumps({"part_files": len(parts)}), flush=True)

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        jmap.get(k).unpersist(True)
    got = {r.id: r.cluster_id for r in clusters.collect()}
    uf = union_find_min_label(edges)
    want = {r.doc_id: uf.get(r.doc_id, r.doc_id) for r in docs.select("doc_id").collect()}
    print(json.dumps({"clustered": sum(i != c for i, c in got.items()),
                      "match": got == want}))
    spark.stop()
    """
)


def test_reliable_truncate_when_deployment_sets_checkpoint_dir(tmp_path):
    """With ``spark.checkpoint.dir`` set, the CC rounds land in that
    store, and the clusters survive the loss of every cached block:
    they equal driver-side union-find over the same pairs."""
    ckpt = tmp_path / "ckpt"
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", RELIABLE_PROBE, str(ckpt), SF01],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines and lines[0]["part_files"] > 0, (
        f"no checkpoint files under {ckpt}: {out.stdout}\n{out.stderr[-3000:]}"
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert lines[-1]["clustered"] > 0 and lines[-1]["match"], lines


def test_truncate_default_mode_is_disk_backed(spark):
    """Without ``spark.checkpoint.dir`` truncate local-checkpoints: the
    blocks live in the block manager at a disk-backed level, so memory
    pressure spills them instead of dropping them."""
    from logzilla_spark.functions.caching import truncate

    assert spark.conf.get("spark.checkpoint.dir", None) is None
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = {int(k) for k in jmap.keySet().toArray()}
    df = truncate(spark.range(1000).selectExpr("id", "id % 7 AS k"))
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    added = {int(k) for k in jmap.keySet().toArray()} - before
    assert added, "truncate left no block-managed RDD"
    for k in added:
        level = jmap.get(k).getStorageLevel()
        assert level.useDisk() and level.useMemory(), level.toString()
    assert df.count() == 1000

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


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# trains a BPE merge table in a session whose deployment sets
# spark.checkpoint.dir, dropping every cached block right after each
# round's truncate, so every round reads the previous one from its
# checkpoint files; reports the part-files and the merge table against
# the pure-Python reference trainer
RELIABLE_PROBE = textwrap.dedent(
    """
    import json, os, sys

    from logzilla_spark.operators import textstats
    from logzilla_spark.session import get_spark
    from tests.test_dataops import _py_bpe_train

    ckpt = sys.argv[1]
    spark = get_spark(cores=2, shuffle_partitions=4, app_name="reliable_truncate",
                      extra_conf={"spark.checkpoint.dir": ckpt})
    truncate = textstats.truncate

    def truncate_then_drop(df):
        out = truncate(df)
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            jmap.get(k).unpersist(True)
        return out

    textstats.truncate = truncate_then_drop
    texts = ["low lower lowest low low", "newer newest new news low",
             "wider wide widest wider", None, "low lower newer wider"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = [(r.step, r.lhs, r.rhs, r.freq)
           for r in textstats.bpe_train(df, n_merges=6).collect()]
    parts = [f for _, _, fs in os.walk(ckpt) for f in fs if f.startswith("part-")]
    left = spark.sparkContext._jsc.getPersistentRDDs().size()
    print(json.dumps({"part_files": len(parts), "left": left, "merges": len(got),
                      "match": got == _py_bpe_train(texts, 6)}))
    spark.stop()
    """
)


def test_reliable_truncate_when_deployment_sets_checkpoint_dir(tmp_path):
    """With ``spark.checkpoint.dir`` set, BPE training's per-round
    truncates land in that store, and training survives the loss of
    every cached block after each round (a local-checkpoint session
    loses its rounds' blocks and fails): the merge table equals the
    pure-Python reference trainer's."""
    ckpt = tmp_path / "ckpt"
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", RELIABLE_PROBE, str(ckpt)],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    got = lines[-1]
    assert got["part_files"] > 0, f"no checkpoint files under {ckpt}: {got}"
    assert got["left"] == 0, got
    assert got["merges"] >= 4 and got["match"], got


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

"""``curate`` workload: the registered data-ops queries over a seeded permutation
of a sample of the repository's sf0.1 documents and embeddings.

One timed unit is a fixed-order pass over three ``__spark_entry__``
queries, each materialized in full by collecting it (the results are
small: one row per document or per near-duplicate pair, and a collect
keeps every column, unlike ``count()``):

- ``q_dedup_clusters``: minhash pair generation plus the connected-
  components loop and its ``lineage.truncate`` calls;
- ``q_dedup_ngram_jaccard``: the n-gram candidate join and verify;
- ``q_dedup_embedding_cosine``: the exact cosine kernel.

After the window, untimed, the first pass's results are compared with
their ``oracle_sql()`` twins (``q_dedup_clusters`` with a driver-side
union-find over the same minhash edges, as its closure twin is
intractable), and every later pass must return the same rows.
"""

from __future__ import annotations

import os
import time

from perfbench import checks, inputs, stats

QUERIES = ("q_dedup_clusters", "q_dedup_ngram_jaccard", "q_dedup_embedding_cosine")
LAYER_OF = {
    "q_dedup_clusters": "operators.cluster",
    "q_dedup_ngram_jaccard": "operators.dedup",
    "q_dedup_embedding_cosine": "operators.similarity",
}


class Curate:
    name = "curate"

    def __init__(self, spark, work: str, seed: int, tracer):
        import __spark_entry__

        registered = __spark_entry__.queries()
        self.queries = {q: registered[q] for q in QUERIES}
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.corpus = os.path.join(work, "corpus")
        self.failures: list[str] = []
        self.sizes = {"documents": inputs.N_DOCS, "embeddings": inputs.N_EMB,
                      "queries": list(QUERIES)}
        self.query_s: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.result_rows: dict[str, int] = {}
        self.results: list[dict] = []  # per pass: query -> collected pandas frame

    def setup(self) -> None:
        inputs.write_curate_corpus(self.corpus, self.seed)

    def unit(self) -> stats.Interval:
        tr = self.tracer
        timed = stats.Interval()
        got = {}
        with tr.span("unit", "curate"):
            for q in QUERIES:
                q0 = time.perf_counter()
                with tr.span(LAYER_OF[q], q):
                    got[q] = self.queries[q](self.spark, self.corpus).toPandas()
                self.query_s[q].append(time.perf_counter() - q0)
        timed.stop()
        self.results.append(got)
        return timed

    def final_checks(self) -> list[str]:
        import __spark_entry__

        from logzilla_spark.operators import dedup

        first = self.results[0]
        oracle = __spark_entry__.oracle_sql()
        con = checks.curate_connection(self.corpus)
        out: list[str] = []
        for q in QUERIES[1:]:
            self.result_rows[q] = len(first[q])
            out += checks.check_query(con, q, oracle[q], first[q])
        con.close()
        docs = self.spark.read.parquet(f"{self.corpus}/documents.parquet")
        pairs = [(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(docs).collect()]
        clusters = {r.id: (r.cluster_id, r.is_canonical)
                    for r in first["q_dedup_clusters"].itertuples()}
        self.result_rows["q_dedup_clusters"] = len(clusters)
        self.result_rows["minhash_pairs"] = len(pairs)
        out += checks.check_clusters(pairs, clusters, inputs.N_DOCS)
        for i, later in enumerate(self.results[1:], 1):
            for q in QUERIES:
                out += checks.diff(f"{q} pass {i}", checks.canon(later[q].values.tolist()),
                                   checks.canon(first[q].values.tolist()))
        return out

    def detail(self) -> dict:
        return {"query_s": self.query_s, "result_rows": self.result_rows}

    def rows_per_unit(self) -> list[int]:
        """Input rows one pass reads: the documents twice, the embeddings once."""
        return [inputs.N_DOCS * 2 + inputs.N_EMB] * len(self.query_s[QUERIES[0]])

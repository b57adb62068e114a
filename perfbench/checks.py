"""Output checks against the repository's DuckDB twins.

Every check returns a list of failure messages (empty when the output
is right) and runs outside every timed window. Comparisons are
order-insensitive multisets of stringified rows unless the result's
order is part of its contract (search pages).
"""

from __future__ import annotations

import json
from collections import Counter

import duckdb

# sink columns the search view exposes, metadata flattened the way the
# query layer's oracle names them (query.default_field_sql: m_<key>)
META_KEYS = ["service", "request_id", "attempt", "ip", "method", "path", "status", "size"]


def canon(rows) -> Counter:
    """Multiset of stringified rows; floats by repr so no digit is lost."""
    return Counter(
        tuple(repr(v) if isinstance(v, float) else str(v) for v in r) for r in rows
    )


def diff(name: str, got: Counter, want: Counter) -> list[str]:
    if got == want:
        return []
    missing, extra = want - got, got - want
    return [f"{name}: {sum(missing.values())} rows missing, {sum(extra.values())} extra "
            f"(e.g. missing {next(iter(missing), None)}, extra {next(iter(extra), None)})"]


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    return con


def _file_list(files: list[str]) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


# -- ingest -------------------------------------------------------------------

def sink_files(cat, table: str) -> list[str]:
    sid = cat.last_snapshot_id(table)
    if sid is None:
        return []
    return [f for g in cat._groups(table, sid) for f in g["files"]]


def records_view(con, files: list[str]) -> None:
    """``records``: the union of the sinks, timestamps as UTC-naive."""
    meta = ", ".join(f"map_extract(metadata, '{k}')[1] AS m_{k}" for k in META_KEYS)
    con.sql(
        f"""CREATE OR REPLACE VIEW records AS
        SELECT id, source, CAST("timestamp" AS TIMESTAMP) AS "timestamp", level,
               message, category, lang, {meta}
        FROM read_parquet({_file_list(files)}, union_by_name = true)"""
    )


def check_routing(con, cat, categories: list[str], pages_glob: str) -> list[str]:
    """Per-sink row and id counts equal the DuckDB twin over the same
    pages, and the sinks are pairwise disjoint on ``id``."""
    from logzilla_spark.operators.route import sink_name
    from logzilla_spark.oracle import route_counts_sql

    want = canon(con.sql(route_counts_sql(pages_glob)).fetchall())
    got_rows, all_files = [], []
    for c in categories:
        files = sink_files(cat, sink_name(c))
        if not files:
            continue
        all_files += files
        n, ids = con.sql(
            f"SELECT count(*), count(DISTINCT id) FROM read_parquet({_file_list(files)})"
        ).fetchone()
        got_rows.append((c, n, ids))
    fails = diff("route counts", canon(got_rows), want)
    n, ids = con.sql(
        f"SELECT count(*), count(DISTINCT id) FROM read_parquet({_file_list(all_files)})"
    ).fetchone()
    if n != ids:
        fails.append(f"sinks not disjoint on id: {n} rows, {ids} distinct ids")
    return fails


def check_aggregates(con, cat, categories: list[str], pages_glob: str) -> list[str]:
    """The committed ``agg_<category>`` tables equal the windowed-count twin."""
    from logzilla_spark.oracle import windowed_counts_sql

    want = canon(con.sql(windowed_counts_sql(pages_glob)).fetchall())
    got: list[tuple] = []
    for c in categories:
        files = sink_files(cat, f"agg_{c}")
        if files:
            got += con.sql(
                "SELECT CAST(window_start AS TIMESTAMP), CAST(window_end AS TIMESTAMP), "
                f"category, level, lang, n FROM read_parquet({_file_list(files)})"
            ).fetchall()
    return diff("windowed counts", canon(got), want)


# -- serve --------------------------------------------------------------------

def check_response(con, kind: str, body: dict, resp: dict) -> list[str]:
    """One HTTP response against its twin over the ``records`` view."""
    from logzilla_spark.api import decode_query
    from logzilla_spark.operators.query import search_oracle_sql
    from logzilla_spark.operators.range_query import range_query_sql

    if not resp.get("success"):
        return [f"{kind}: unsuccessful response: {resp.get('message')}"]
    if kind == "range":
        q = dict(body)
        step, by = q.pop("step"), q.pop("by", [])
        sql = range_query_sql("records", decode_query(json.dumps(q)), step=step, by=by)
        want = canon(con.sql(sql).fetchall())
        got = canon(
            (*s["labels"].values(), b, v) for s in resp["data"] for b, v in s["values"]
        )
        return diff(kind, got, want)
    if kind == "facets":
        want = canon(con.sql(facets_sql("records", body)).fetchall())
        got = canon((r["facet"], r["value"], r["n"]) for r in resp["data"])
        return diff(kind, got, want)
    q = decode_query(json.dumps(body))
    cols = body["select_columns"]
    sql = search_oracle_sql("records", q, select_sql=[f'"{c}"' for c in cols])
    want = [tuple(str(v) for v in r) for r in con.sql(sql).fetchall()]
    got = [tuple(str(row[c]) for c in cols) for row in resp["data"]]
    return [] if got == want else [f"{kind}: page differs from the twin ({len(got)} vs {len(want)} rows)"]


def facets_sql(relation: str, body: dict) -> str:
    """Twin of ``query.search_facets``: top-k counts per facet field (ties
    at the cut all kept) plus every bucket of the time histogram, over
    the search slice ``predicate_oracle_sql`` renders."""
    from logzilla_spark.api import decode_query
    from logzilla_spark.operators.query import predicate_oracle_sql

    q = {k: v for k, v in body.items() if k not in ("facets", "histogram", "top_k")}
    where = predicate_oracle_sql(decode_query(json.dumps(q)))
    pairs = [f"SELECT '{f}' AS facet, CAST({f} AS VARCHAR) AS value FROM {relation} WHERE {where}"
             for f in body["facets"]]
    pairs.append(
        "SELECT '_histogram' AS facet, strftime(date_trunc('{0}', \"timestamp\"), "
        "'%Y-%m-%d %H:%M:%S') AS value FROM {1} WHERE {2}".format(body["histogram"], relation, where))
    return f"""SELECT facet, value, n FROM (
        SELECT facet, value, count(*) AS n,
               rank() OVER (PARTITION BY facet ORDER BY count(*) DESC) AS rnk
        FROM ({" UNION ALL ".join(pairs)}) GROUP BY facet, value)
        WHERE facet = '_histogram' OR rnk <= {int(body["top_k"])}"""


# -- curate -------------------------------------------------------------------

def curate_connection(corpus_dir: str) -> duckdb.DuckDBPyConnection:
    con = connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    return con


def check_query(con, name: str, oracle_sql: str, got_pdf) -> list[str]:
    """A query result against its registered ``oracle_sql()`` twin:
    same columns (order-insensitive) and the same multiset of rows."""
    want_pdf = con.sql(oracle_sql).df()
    if sorted(got_pdf.columns) != sorted(want_pdf.columns):
        return [f"{name}: columns {sorted(got_pdf.columns)} != {sorted(want_pdf.columns)}"]
    cols = sorted(got_pdf.columns)

    def rows(pdf):
        return pdf[cols].astype(object).where(pdf[cols].notna(), None).values.tolist()

    return diff(name, canon(rows(got_pdf)), canon(rows(want_pdf)))


def check_clusters(pairs: list[tuple[int, int]], clusters: dict, n_docs: int) -> list[str]:
    """``q_dedup_clusters`` against a driver-side union-find over the
    same minhash edge list (the closure twin is intractable here)."""
    from logzilla_spark.functions.unionfind import union_find_min_label

    want = union_find_min_label(pairs)
    if len(clusters) != n_docs:
        return [f"q_dedup_clusters: {len(clusters)} labelled docs, expected {n_docs}"]
    bad = sum(
        1 for i, (cid, canonical) in clusters.items()
        if cid != want.get(i, i) or canonical != (i == cid)
    )
    return [f"q_dedup_clusters: {bad} docs disagree with union-find"] if bad else []

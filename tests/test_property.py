"""Property-based differential tests (SURVEY.md §5.4).

1. Random QueryNode trees -> Spark ``search`` vs the DuckDB rendering of
   the SAME Query over the same records relation.
2. Adversarial random log lines (quotes, unicode, nested JSON, numeric
   envelope fields) -> the spec-exact arrow parse and the hybrid parse
   must agree exactly (the hybrid's JVM/Python split is an internal
   detail, never a semantic one).
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings

from logzilla_spark import oracle
from logzilla_spark.operators.parse import parse_records
from logzilla_spark.operators.query import (
    AndNode,
    ComparisonNode,
    NotNode,
    OrNode,
    Query,
    SortField,
    search,
    search_oracle_sql,
)
from logzilla_spark.testdata import ensure_pages

from .conftest import canon_rows

SF001 = "/root/testdata/sf0.001"
T0 = datetime(2024, 1, 1)

SELECT_COLS = ["id", "source", "timestamp", "level", "message"]
SELECT_SQL = ["id", "source", '"timestamp"', "level", "message"]

# value pools sized so random predicates actually match rows
LEVELS = ["DEBUG", "INFO", "WARN", "ERROR", "FATAL", "UNKNOWN"]
MESSAGES_LIKE = ["disk%", "%login%", "GET %", "%processed", "%"]
SERVICES = ["svc0", "svc1", "svc3", "nope"]

comparisons = st.one_of(
    st.builds(
        ComparisonNode,
        st.just("level"),
        st.sampled_from(LEVELS),
        st.sampled_from(["eq", "ne", "gt", "lt", "gte", "lte"]),
    ),
    st.builds(
        ComparisonNode,
        st.just("message"),
        st.sampled_from(MESSAGES_LIKE),
        st.sampled_from(["like", "ilike"]),
    ),
    st.builds(
        ComparisonNode,
        st.just("metadata.service"),
        st.sampled_from(SERVICES),
        st.sampled_from(["eq", "ne"]),
    ),
    st.builds(
        ComparisonNode,
        st.just("level"),
        st.lists(st.sampled_from(LEVELS), min_size=1, max_size=3),
        st.just("in"),
    ),
    st.builds(
        ComparisonNode,
        st.just("timestamp"),
        st.datetimes(min_value=T0, max_value=T0 + timedelta(days=7)),
        st.sampled_from(["gt", "lte"]),
    ),
)

trees = st.recursive(
    comparisons,
    lambda kids: st.one_of(
        st.builds(AndNode, st.lists(kids, max_size=3)),
        st.builds(OrNode, st.lists(kids, max_size=3)),
        st.builds(NotNode, kids),
    ),
    max_leaves=6,
)

queries_st = st.builds(
    Query,
    start=st.sampled_from([T0, T0 + timedelta(days=2)]),
    end=st.sampled_from([None, T0 + timedelta(days=7), T0 + timedelta(days=1)]),
    node=st.one_of(st.none(), trees),
    sort=st.lists(
        st.builds(SortField, st.sampled_from(["source", "level"]), st.booleans()),
        max_size=2,
    ),
    limit=st.just(1000),
    select_columns=st.just(SELECT_COLS),
)


@pytest.fixture(scope="module")
def records001(spark):
    d = ensure_pages(SF001)
    return parse_records(spark.read.parquet(f"{d}/pages.parquet")).cache()


@pytest.fixture(scope="module")
def duck001():
    import duckdb

    return duckdb.connect()


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(q=queries_st)
def test_random_query_tree_matches_duckdb(q, spark, records001, duck001):
    spdf = search(records001, q).toPandas()
    sql = (
        f"WITH {oracle.records_cte(f'{ensure_pages(SF001)}/pages.parquet')}\n"
        + search_oracle_sql("records", q, time_column='"timestamp"',
                            select_sql=SELECT_SQL)
    )
    odf = duck001.sql(sql).df()
    assert len(spdf) == len(odf)
    if len(spdf) == 1000:
        return  # truncated at limit with ambiguous tie order: count only
    assert canon_rows(spdf) == canon_rows(odf)


# --- parse fidelity property -------------------------------------------------

meta_values = st.one_of(
    st.text(max_size=12),
    st.integers(min_value=-10**6, max_value=10**6),
    st.booleans(),
    st.none(),
    st.lists(st.integers(min_value=0, max_value=9), max_size=3),
    st.dictionaries(st.sampled_from(["x", "y"]), st.text(max_size=4), max_size=2),
)

json_lines = st.builds(
    lambda ts_ok, lvl, msg, extra: json.dumps(
        {
            "timestamp": "2024-01-02T03:04:05Z" if ts_ok else 12345,
            "level": lvl,
            "message": msg,
            **{f"k_{i}": v for i, v in enumerate(extra)},
        },
        ensure_ascii=False,
    ),
    st.booleans(),
    st.one_of(st.sampled_from(["info", "WARN", "warning", "fatal"]), st.integers()),
    st.one_of(st.text(max_size=20), st.integers(), st.none()),
    st.lists(meta_values, max_size=3),
)

# deterministic nasties targeting the hybrid router's simple-JSON branch
# (operators/parse.py SIMPLE_JSON_RE): each probes one reason a line must
# NOT be claimed by the codegen from_json path
ROUTER_EDGE_LINES = [
    # duplicated envelope key flips type under last-wins
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info","level":5}',
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info","message":"a","message":5}',
    '{"timestamp":"2024-01-02T03:04:05Z","timestamp":"bad","level":"info"}',
    '{"timestamp":"bad","timestamp":"2024-01-02T03:04:05Z","level":"info"}',
    # duplicated metadata key (keep-last both sides)
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info","k":"1","k":"2"}',
    # float values re-rendered by from_json (1.50 -> "1.5"; 1.0 -> "1")
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info","f":1.50}',
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info","f":1.0}',
    # null metadata value (from_json: real NULL; spec: the string "null")
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info","z":null}',
    # escapes in values / keys
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info","m":"a\\"b"}',
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info","m":"tab\\tx"}',
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info","\\u00e9":"v"}',
    # exotic-but-valid RFC3339 timestamps (offset / fractional seconds)
    '{"timestamp":"2024-01-02T03:04:05+05:00","level":"info","m":"x"}',
    '{"timestamp":"2024-01-02T03:04:05.250Z","level":"info","m":"x"}',
    # shape-valid but non-calendar timestamp
    '{"timestamp":"2024-13-40T99:99:99Z","level":"info","m":"x"}',
    # leading-zero int (invalid JSON both sides)
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info","n":007}',
    # booleans and big ints (simple branch CAN take these)
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info","t":true,"n":123456789012345}',
    # trailing comma (invalid JSON)
    '{"timestamp":"2024-01-02T03:04:05Z","level":"info",}',
]

raw_lines = st.one_of(
    json_lines,
    st.text(max_size=40).filter(lambda s: "\n" not in s),
    st.just('{"timestamp":"2024-01-02T03:04:05Z","level":"info"}'),
    st.just('10.1.2.3 - - [05/Jan/2024:12:00:00 +0000] "GET /x HTTP/1.1" 200 99'),
    st.sampled_from(ROUTER_EDGE_LINES),
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lines=st.lists(raw_lines, min_size=1, max_size=30))
def test_arrow_and_hybrid_parse_agree_on_adversarial_lines(lines, spark):
    text = "\n".join(l.replace("\n", " ") for l in lines)
    pages = spark.createDataFrame(
        [("https://h.example/x/p0", T0, None, text, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )

    def canon(impl):
        rows = parse_records(pages, impl=impl).collect()
        return sorted(
            (r.id, r.timestamp, r.level, r.message,
             tuple(sorted(r.metadata.items())), r.category, r.parse_ok)
            for r in rows
        )

    assert canon("arrow") == canon("hybrid")


def test_hybrid_router_keeps_simple_json_out_of_python(spark):
    """Every ROUTER_EDGE_LINES nasty goes to the UDF; the corpus's plain
    flat-JSON lines stay in codegen (the G8 scaling lever)."""
    from pyspark.sql import functions as F

    from logzilla_spark.operators.parse import hybrid_needs_python

    simple = [
        '{"timestamp":"2024-01-02T03:04:05Z","level":"info","message":"m",'
        '"service":"svc3","request_id":"r-42","attempt":3}',
        '{"timestamp":"2024-01-02T03:04:05Z","level":"warning"}',
    ]
    # claimable by codegen: duplicated METADATA key (keep-last equals
    # json.loads under LAST_WIN) and the booleans/big-int line; every
    # other nasty must cross into the spec-exact UDF
    claimable = {ROUTER_EDGE_LINES[4], ROUTER_EDGE_LINES[-2]}
    df = spark.createDataFrame(
        [(l,) for l in simple + ROUTER_EDGE_LINES], "line string"
    ).select("line", hybrid_needs_python(F.col("line")).alias("np"))
    got = {r.line: r.np for r in df.collect()}
    for l in simple:
        assert got[l] is False, f"simple line routed to Python: {l}"
    for l in ROUTER_EDGE_LINES:
        if l in claimable:
            continue
        assert got[l] is True, f"nasty line NOT routed to Python: {l}"


# --- 3. GrokParser vs a Python-re reference model -----------------------

GROK_SEP, GROK_MARK = "\x1e", "\x1d"

GROK_PATTERNS = [
    # optional group (non-participating -> empty string)
    (r"evt=(?P<evt>\d+)(?: sev=(?P<sev>\d))?", ("evt",)),
    # anchored both ends
    (r"^(?P<w>\w+) (?P<n>\d+)$", ("w",)),
    # zero named groups: pure match test
    (r"ERRORBLOCK", ()),
]

# ASCII only: Java \d\w are ASCII classes while Python's are Unicode —
# a real dialect divergence, but not the contract under test here
GROK_ALPHABET = "evt=sv 0123456789abcERRORBLOCK\n" + GROK_SEP + GROK_MARK + "#w_"

grok_lines = st.one_of(
    st.text(alphabet=GROK_ALPHABET, max_size=30),
    st.just("evt=123 sev=4"),
    st.just("evt=9\njava.lang.Boom\n  at X.y(X.java:1)"),
    st.just("hello 42"),
    st.just("ERRORBLOCK rest"),
    st.just("evt=1" + GROK_SEP + "tail"),
    # forged sentinel shape (binary garbage): must stay unclaimed
    st.just(GROK_MARK + GROK_SEP + "a1" + GROK_SEP + "42"),
    st.just(GROK_MARK),
)


def _ref_grok(line: str, pattern: str, message_groups: tuple):
    """Reference model of GrokParser.plan's claim/extract contract:
    claim iff the pattern matches (searched anywhere, wrapper crosses
    newlines), no captured value contains the join separator, AND the
    sentinel replacement differs from the original line (the
    replaced != line guard: a NON-matching line passes through
    regexp_replace unchanged, so a line already shaped like the
    sentinel output — binary garbage — must fail CLOSED, and the
    inverse freak case, a match whose replacement reproduces the line,
    falls closed too)."""
    import re as _re

    names = _re.findall(r"\(\?P<([A-Za-z_]\w*)>", pattern)
    m = _re.search(pattern, line)
    if not m:
        return None
    vals = {nm: (m.group(i + 1) or "") for i, nm in enumerate(names)}
    if any(GROK_SEP in v for v in vals.values()):
        return None  # arity check fails -> unclaimed
    replaced = GROK_MARK + "".join(GROK_SEP + vals[nm] for nm in names)
    if replaced == line:
        return None  # replaced != line guard -> unclaimed
    return {"message": " ".join(vals[g] for g in message_groups),
            "metadata": vals}


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lines=st.lists(grok_lines, min_size=1, max_size=25))
def test_grok_parser_matches_python_re_reference(lines, spark):
    from logzilla_spark.operators import parsers as P

    rows = [(f"u{i}", T0, None, ln, "en", "s", i, ln) for i, ln in enumerate(lines)]
    frame = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, source string, pos int, line string",
    )
    for pat, msg_groups in GROK_PATTERNS:
        P.register_parser(
            P.GrokParser(name="propgrok", pattern=pat,
                         level_static="NOTICE", message_groups=msg_groups),
            replace=True,
        )
        try:
            got = {r.id: r for r in
                   P.records_from_lines(frame, chain=("propgrok",)).collect()}
        finally:
            P.unregister_parser("propgrok")
        for i, ln in enumerate(lines):
            ref, r = _ref_grok(ln, pat, msg_groups), got[f"u{i}#{i:04d}"]
            if ref is None:
                assert r.category == "unparsed", (pat, ln)
            else:
                assert r.category == "propgrok", (pat, ln)
                assert r.level == "NOTICE", (pat, ln)
                assert r.message == ref["message"], (pat, ln)
                assert r.metadata == ref["metadata"], (pat, ln)


# --------------------------------------------------------------------------
# connected components vs a union-find reference
# --------------------------------------------------------------------------

edge_st = st.tuples(
    st.integers(min_value=0, max_value=40),
    st.integers(min_value=0, max_value=40),
).filter(lambda e: e[0] != e[1])


from logzilla_spark.functions.unionfind import union_find_min_label as _union_find  # noqa: E402


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(edge_st, min_size=1, max_size=40))
def test_connected_components_matches_union_find(edges, spark):
    """Random graphs (duplicate edges, both orientations, self-free):
    the CC fixpoint must equal union-find's min-id labels. Small id
    range forces dense multi-component collisions; duplicate and
    reversed edges exercise the contraction's dedup."""
    from logzilla_spark.operators import cluster

    want = _union_find(edges)
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.id: r.cluster_id
        for r in cluster.connected_components(pairs).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# substring dedup removal vs a pure-Python reference
# --------------------------------------------------------------------------

doc_st = st.lists(
    st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
).map(lambda toks: " ".join(toks))


def _py_substring_dedup(texts: list[str], window: int) -> dict:
    """Reference model: positioned windows with the whole-doc floor,
    duplicated = window text in >= 2 distinct docs, covered = union of
    duplicated window spans, survivors rejoined in order."""
    from collections import defaultdict

    toks = {i: t.split(" ") for i, t in enumerate(texts)}
    gram_docs: dict[str, set] = defaultdict(set)
    pos_grams: dict[int, list] = defaultdict(list)
    for i, tk in toks.items():
        n = len(tk)
        for s in range(1, max(n - window + 1, 1) + 1):
            g = " ".join(tk[s - 1 : s - 1 + window])
            gram_docs[g].add(i)
            pos_grams[i].append((s, g))
    out = {}
    for i, tk in toks.items():
        n = len(tk)
        covered: set = set()
        for s, g in pos_grams[i]:
            if len(gram_docs[g]) >= 2:
                covered.update(range(s, min(s + window - 1, n) + 1))
        kept = [tk[p - 1] for p in range(1, n + 1) if p not in covered]
        out[i] = (n, len(covered), " ".join(kept))
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(doc_st, min_size=1, max_size=10))
def test_substring_dedup_matches_python_reference(texts, spark):
    """Random tiny-vocab corpora (forced window collisions, empty docs,
    whole-doc floor windows, overlapping covered spans): the
    distributed removal must equal the in-memory reference exactly."""
    from logzilla_spark.operators import textstats

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in textstats.substring_dedup(df, window=3).collect()
    }
    assert got == _py_substring_dedup(texts, 3)

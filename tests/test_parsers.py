"""Pluggable parser registry (operators/parsers.py — the Lua slot).

Covers: default chain == the arrow reference on every router edge
line (differential; the chain is parse_records' impl="hybrid"), a
user-registered grok format claiming the unparsed tail, a PandasParser
(Arrow slot) for a format regex can't comfortably express, never-drop
tolerance, and registry error handling.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logzilla_spark.operators import parsers as P
from logzilla_spark.operators.parse import parse_records
from logzilla_spark.testdata import ensure_pages
from tests.test_property import ROUTER_EDGE_LINES

T0 = datetime(2024, 1, 1)
SF0001 = "/root/testdata/sf0.001"


def _pages(spark):
    return spark.read.parquet(f"{ensure_pages(SF0001)}/pages.parquet")


def _canon(df):
    rows = df.collect()
    return sorted(
        (r.id, r.timestamp, r.level, r.message,
         tuple(sorted(r.metadata.items())), r.category, r.parse_ok)
        for r in rows
    )


def test_default_chain_equals_arrow_on_router_edge_lines(spark):
    """Every router edge line, on one page, every run: the hypothesis
    test in test_property.py only samples from them."""
    pages = spark.createDataFrame(
        [("https://h.example/x/p0", T0, None, "\n".join(ROUTER_EDGE_LINES), "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    assert _canon(P.parse_records_chain(pages)) == _canon(
        parse_records(pages, impl="arrow")
    )


def test_registered_grok_claims_unparsed_tail(spark):
    P.register_parser(
        P.GrokParser(name="legacy", pattern=r"^garbage line (?P<n>\d+)$",
                     level_static="DEBUG", message_groups=("n",)),
        replace=True,
    )
    pages = _pages(spark)
    base = parse_records(pages, impl="hybrid")
    rec = P.parse_records_chain(pages, chain=("access", "json", "legacy"))
    got = {r.category: r["count"] for r in rec.groupBy("category").count().collect()}
    want = {r.category: r["count"] for r in base.groupBy("category").count().collect()}
    # every garbage line moved from 'unparsed' to 'legacy'; json/access same
    assert got["access"] == want["access"]
    assert got["json"] == want["json"]
    assert got.get("legacy", 0) > 0
    assert got.get("legacy", 0) + got.get("unparsed", 0) == want["unparsed"]
    one = rec.filter(F.col("category") == "legacy").first()
    assert one.level == "DEBUG" and one.parse_ok
    assert one.message == one.metadata["n"]
    assert one.timestamp == one.warc_ts  # no ts group -> ingest time


def _logfmt(lines: pd.Series) -> pd.DataFrame:
    """key=value log format — the 'arbitrary script' slot."""
    import json as _json

    n = len(lines)
    ok, level, message, meta, ts = ([None] * n for _ in range(5))
    for i, s in enumerate(lines):
        ok[i] = False
        if not isinstance(s, str) or "=" not in s:
            continue
        kv = {}
        good = True
        for part in s.split():
            if "=" not in part:
                good = False
                break
            k, _, v = part.partition("=")
            kv[k] = v
        if not good or "ts" not in kv:
            continue
        try:
            ts[i] = pd.Timestamp(kv.pop("ts"))
        except ValueError:
            continue
        ok[i] = True
        level[i] = kv.pop("level", "info").upper()
        message[i] = kv.pop("msg", "")
        meta[i] = _json.dumps(kv, separators=(",", ":"))
    return pd.DataFrame(
        {"ok": ok, "timestamp": pd.Series(ts, dtype="datetime64[ns]"),
         "level": level, "message": message, "metadata_json": meta}
    )


def test_pandas_parser_slot(spark):
    P.register_parser(
        P.PandasParser(name="logfmt", fn=_logfmt, candidate_re=r"^\w+="),
        replace=True,
    )
    try:
        pages = spark.createDataFrame(
            [("https://h.example/x/p0", T0, None,
              "ts=2024-01-02T03:04:05 level=warn msg=slow svc=api\n"
              "not a logfmt line\n"
              '{"timestamp":"2024-01-02T03:04:05Z","level":"info","k":"v"}',
              "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        rec = P.parse_records_chain(pages, chain=("access", "json", "logfmt"))
        rows = {r.pos: r for r in rec.withColumn(
            "pos", F.substring("id", -4, 4).cast("int")).collect()}
        assert rows[0].category == "logfmt"
        assert rows[0].level == "WARN" and rows[0].message == "slow"
        assert rows[0].metadata == {"svc": "api"}
        assert rows[0].timestamp == datetime(2024, 1, 2, 3, 4, 5)
        assert rows[1].category == "unparsed" and not rows[1].parse_ok
        assert rows[2].category == "json"  # earlier parser claims first
    finally:
        P.unregister_parser("logfmt")


def test_registry_errors(spark):
    with pytest.raises(ValueError, match="already registered"):
        P.register_parser(P._AccessBuiltin())
    with pytest.raises(ValueError, match="unknown parser"):
        P.parse_records_chain(_pages(spark), chain=("access", "nope"))
    with pytest.raises(ValueError, match="ts_format_spark"):
        P.GrokParser(name="x", pattern=r"(?P<a>\d+)", ts_group="a").plan(
            _pages(spark), F.lit(False)
        )


def test_grok_single_regex_eval_in_plan(spark):
    """VERDICT r2 #5: the grok extraction must run its regex ONCE per
    row (one regexp_replace into a split array), not once per captured
    group — per the repo's materialization rule (parse.py)."""
    P.register_parser(
        P.GrokParser(
            name="evalcount",
            pattern=r"^(?P<a>\w+) (?P<b>\w+) (?P<c>\w+) (?P<d>\d+)$",
            level_static="INFO", message_groups=("a", "b"),
        ),
        replace=True,
    )
    df = P.parse_records_chain(_pages(spark), chain=("evalcount",))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the pattern body appears exactly once in the whole plan: inside
    # the one regexp_replace. Per-group regexp_extract would repeat it
    # once per group (+1 for the rlike verdict).
    assert plan.count(r"(\w+) (\w+) (\w+)") == 1, plan


def test_grok_separator_in_value_fails_closed(spark):
    """A group value containing the join separator must leave the line
    UNCLAIMED (arity check fails) — never claimed with garbage fields."""
    rows = [
        ("u1", T0, None, "ok 42", "en", "s", 0, "ok 42"),
        ("u2", T0, None, "o\x1ek 42", "en", "s", 0, "o\x1ek 42"),
    ]
    lines = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, source string, pos int, line string",
    )
    P.register_parser(
        P.GrokParser(name="sepcase", pattern=r"^(?P<w>.+) (?P<n>\d+)$",
                     level_static="INFO", message_groups=("w",)),
        replace=True,
    )
    out = {r.url: r.category for r in P.records_from_lines(
        lines, chain=("sepcase",)).collect()}
    assert out["u1"] == "sepcase"
    assert out["u2"] == "unparsed"  # fails closed, not garbage


_LINES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, "
    "lang string, source string, pos int, line string"
)


def _line_rows(spark, *lines):
    rows = [(f"u{i}", T0, None, ln, "en", "s", i, ln) for i, ln in enumerate(lines)]
    return spark.createDataFrame(rows, _LINES_SCHEMA)


def test_grok_zero_group_pattern_claims(spark):
    """A pattern with NO named groups is a pure match test: repl is the
    bare sentinel, split arity is 1 — the line must still be claimed."""
    P.register_parser(
        P.GrokParser(name="zerog", pattern=r"^ERRORLINE\b", level_static="ERROR"),
        replace=True,
    )
    lines = _line_rows(spark, "ERRORLINE disk full", "other line")
    out = {r.url: r for r in P.records_from_lines(lines, chain=("zerog",)).collect()}
    assert out["u0"].category == "zerog" and out["u0"].level == "ERROR"
    assert out["u0"].metadata == {}
    assert out["u1"].category == "unparsed"


def test_grok_embedded_newline_claimed(spark):
    """An unanchored pattern must claim a message with an embedded
    newline (stack trace), as the pre-rewrite rlike did: the wrapper's
    .* runs in scoped DOTALL. A user pattern anchored at both ends
    still rejects multi-line content (its own anchors, as before)."""
    multi = "evt=7 sev=2\njava.lang.NullPointerException\n  at X.y(X.java:1)"
    lines = _line_rows(spark, multi)
    P.register_parser(
        P.GrokParser(name="unanch", pattern=r"evt=(?P<evt>\d+)",
                     level_static="INFO", message_groups=("evt",)),
        replace=True,
    )
    out = P.records_from_lines(lines, chain=("unanch",)).collect()[0]
    assert out.category == "unanch" and out.metadata == {"evt": "7"}
    P.register_parser(
        P.GrokParser(name="anch", pattern=r"^evt=(?P<evt>\d+) sev=\d$",
                     level_static="INFO"),
        replace=True,
    )
    out = P.records_from_lines(lines, chain=("anch",)).collect()[0]
    assert out.category == "unparsed"


def test_record_id_pos_never_truncates(spark):
    """pos >= 10000 must widen the id suffix, not truncate it (Spark's
    lpad shortens over-long strings, colliding ids on any real Kafka
    offset); the DuckDB twin uses printf the same way."""
    rows = [("u", T0, None, "x", "en", "s", p, "x") for p in (7, 1234, 12345)]
    lines = spark.createDataFrame(rows, _LINES_SCHEMA)
    ids = sorted(r.id for r in P.records_from_lines(lines).collect())
    assert ids == ["u#0007", "u#1234", "u#12345"]


def test_grok_rejects_unnamed_capturing_groups(spark):
    """An unnamed capturing group shifts every replacement reference —
    silent wrong-field extraction — so plan() must fail fast."""
    P.register_parser(
        P.GrokParser(name="badgroups", pattern=r"(\d+) (?P<a>\w+)",
                     level_static="INFO"),
        replace=True,
    )
    try:
        with pytest.raises(ValueError, match="must be named"):
            P.records_from_lines(_line_rows(spark, "42 abc"),
                                 chain=("badgroups",))
    finally:
        P.unregister_parser("badgroups")


def test_grok_skips_already_claimed_lines(spark):
    """LineParser contract: a later grok must not claim (or spend its
    regex on) lines an earlier parser already claimed."""
    line = '{"timestamp":"2024-01-02T03:04:05Z","level":"warn","message":"evt=5"}'
    P.register_parser(
        P.GrokParser(name="greedy", pattern=r"evt=(?P<evt>\d+)",
                     level_static="NOTICE"),
        replace=True,
    )
    try:
        out = P.records_from_lines(
            _line_rows(spark, line, "evt=5 plain"), chain=("json", "greedy")
        ).collect()
    finally:
        P.unregister_parser("greedy")
    by_url = {r.id.split("#")[0]: r for r in out}
    assert by_url["u0"].category == "json"      # json got it first
    assert by_url["u1"].category == "greedy"    # unclaimed tail still claimed

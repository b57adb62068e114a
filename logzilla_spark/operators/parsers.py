"""Pluggable parser registry — the Lua script slot, Spark-first (O21).

The reference's Lua processor exists so a USER can drop in a script
defining ``parse_log`` for their own log format without touching engine
code (reference: processor/lua.go:18-25,81-119; README.md:100-107 shows
the grok use case). The Spark-native successor is a registry of line
parsers plus an error-tolerant chain builder:

- :class:`GrokParser` — a named-group regex declared by the user,
  compiled into pure Catalyst expressions (whole-stage codegen; the
  fast path — this is what most Lua scripts in the wild do);
- :class:`PandasParser` — an arbitrary Arrow-batched parse function for
  formats a regex can't express (the full scripting slot; Python, so
  it pays the UDF crossing — exactly like the reference pays the Lua
  VM, engine cost sits with the user's choice);
- built-ins ``"access"`` and ``"json"`` pre-registered from
  :mod:`.parse` (the reference's two shipped processors).

``parse_records_chain(pages, chain=(...))`` assembles the chain:
parsers claim lines in chain order (first ok wins), and a line no
parser claims flows through UNCHANGED as category='unparsed' with
level=UNKNOWN, message='', timestamp=ingest time — the reference's
never-drop tolerance contract (engine/processor.go:99-102).

Scale notes: grok parsers add zero Python; each pandas parser is one
Arrow UDF applied only to lines not claimed by earlier parsers (nulls
are free in Arrow). The chain preserves input partitioning — no
shuffle, embarrassingly parallel at 1000 executors.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from itertools import chain as _it_chain
from typing import Callable, Protocol

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.levels import parse_level_col
from .parse import (
    JSON_LINE_STRUCT,
    RFC3339_SPARK,
    TS_VALUE_RE,
    _access_exprs,
    _json_map_fields,
    _parse_json_only_udf,
    _simple_ok_from,
    empty_metadata,
    explode_lines,
    record_id,
)

_EMPTY_MAP = 'map<string,string>'


class LineParser(Protocol):
    """One registered line format.

    ``plan`` may attach helper columns to ``lines`` (pandas parsers add
    their UDF output) and returns the branch expressions:
    ok / ts / level / message / metadata. ``claimed`` is the OR of all
    earlier parsers' ok columns — later parsers must not spend work on
    already-claimed lines.
    """

    name: str

    def plan(
        self, lines: DataFrame, claimed: Column
    ) -> tuple[DataFrame, dict[str, Column]]: ...


def _spark_pattern(pattern: str) -> tuple[str, dict[str, int]]:
    """Python named-group regex -> (Spark indexed regex, name->index).

    All capturing groups must be named (index mapping follows group
    order); non-capturing ``(?:...)`` groups are fine.
    """
    names = re.findall(r"\(\?P<([A-Za-z_]\w*)>", pattern)
    return re.sub(r"\?P<[A-Za-z_]\w*>", "", pattern), {
        n: i + 1 for i, n in enumerate(names)
    }


@dataclass(frozen=True)
class GrokParser:
    """User-declared grok/regex format, compiled to codegen expressions.

    - ``pattern``: full-line named-group regex; every named group
      becomes a metadata key.
    - ``ts_group``/``ts_format_spark``: optional timestamp group and
      its Spark datetime pattern; when absent (or unparseable) the
      chain's ingest-time fallback applies only if the line is
      unclaimed — a claimed line without ts_group gets ingest time via
      ``ts=None`` handling in the assembler.
    - ``level_group``: optional group run through the exact reference
      level table; else ``level_static``.
    - ``message_groups``: groups joined with spaces into the message;
      when empty, ``message_static`` (default "") is the message.
    - ``ts_static``: a constant timestamp string parsed with
      ``ts_format_spark`` — a claimed line gets this fixed ts, and an
      unparseable constant means the parser never claims (the Lua
      contract for a bad constant: every record errors, lua.go:104-107).
    - ``metadata_groups``: ``None`` -> every named group becomes a
      metadata key (the original behavior); else an ordered tuple of
      ``"group"`` or ``("map_key", "group")`` entries selecting and
      renaming what reaches metadata (the Lua fast path maps a table
      constructor here; also lets grok users keep scratch groups out
      of the stored map).
    """

    name: str
    pattern: str
    ts_group: str | None = None
    ts_format_spark: str | None = None
    ts_static: str | None = None
    level_group: str | None = None
    level_static: str = "UNKNOWN"
    message_groups: tuple[str, ...] = ()
    message_static: str = ""
    metadata_groups: tuple | None = None

    def plan(self, lines: DataFrame, claimed: Column):
        if self.ts_group and not self.ts_format_spark:
            raise ValueError(f"{self.name}: ts_group needs ts_format_spark")
        if self.ts_static is not None and not self.ts_format_spark:
            raise ValueError(f"{self.name}: ts_static needs ts_format_spark")
        if self.ts_static is not None and self.ts_group:
            raise ValueError(f"{self.name}: ts_static and ts_group are exclusive")
        line = F.col("line")
        spark_re, idx = _spark_pattern(self.pattern)
        n = len(idx)
        # Fail fast on the documented precondition instead of silently
        # extracting the WRONG groups: an unnamed capturing group shifts
        # every $i reference (names map to group order among named
        # groups, but $i counts ALL capturing groups).
        if re.compile(self.pattern).groups != n:
            raise ValueError(
                f"{self.name}: every capturing group must be named — "
                f"pattern has {re.compile(self.pattern).groups} capturing "
                f"groups but {n} named; use (?:...) for grouping"
            )
        # ONE regex evaluation per row (the repo's materialization rule,
        # records_from_lines comment: Spark does not deduplicate non-cheap
        # expressions, so per-group regexp_extract costs N+1 regex runs
        # per row). A full-line regexp_replace substitutes every group
        # in one pass — sentinel first, groups joined by an ASCII
        # separator — and the fields are attribute references into the
        # split array, materialized as a helper column.
        #
        # Match detection without a second regex: on no-match
        # regexp_replace returns the line UNCHANGED, so ok requires
        # replaced != line in addition to the sentinel/arity checks —
        # a line that is itself shaped like "\x1d\x1e<g1>\x1e..."
        # (binary garbage in a log feed) equals its own no-match output
        # and fails CLOSED, exactly like the rlike this replaced. A
        # group VALUE containing the separator fails the arity check.
        # (The inverse freak case — a pattern whose replacement equals
        # the original line — also fails closed to the chain fallback.)
        sep, mark = "\x1e", "\x1d"
        # n == 0 (no named groups, pure match test) must yield a
        # 1-element split, not ['<mark>', ''] — omit the separator.
        repl = mark + "".join(sep + f"${i}" for i in range(1, n + 1))
        # The wrapper's .* runs in scoped DOTALL so a message with an
        # embedded newline (stack trace) can still be claimed when the
        # user pattern matches inside it — matching the unanchored
        # rlike this replaced. (?s: ...) is scoped, so the USER
        # pattern's own '.' semantics are untouched.
        wrapped = f"^(?s:.*?)(?:{spark_re})(?s:.*)$"
        rep_col, arr_col = f"_gr_{self.name}", f"_gk_{self.name}"
        # LineParser contract: no work on already-claimed lines — the
        # regex (the expensive part) runs only where claimed is false;
        # claimed rows get a null array and the coalesced ok is false.
        # Both the replaced string and its split are materialized as
        # helper columns: one regex eval + one 1-char split per row.
        lines = lines.withColumn(
            rep_col, F.when(~claimed, F.regexp_replace(line, wrapped, repl))
        ).withColumn(arr_col, F.split(F.col(rep_col), sep, -1))
        arr = F.col(arr_col)
        ok = F.coalesce(
            (F.col(rep_col) != line)
            & (F.size(arr) == n + 1)
            & (F.element_at(arr, 1) == mark),
            F.lit(False),
        )

        def g(name: str) -> Column:
            return F.element_at(arr, idx[name] + 1)

        ts: Column | None = None
        if self.ts_group:
            ts = F.try_to_timestamp(g(self.ts_group), F.lit(self.ts_format_spark))
            ok = ok & ts.isNotNull()
        elif self.ts_static is not None:
            ts = F.try_to_timestamp(
                F.lit(self.ts_static), F.lit(self.ts_format_spark)
            )
            ok = ok & ts.isNotNull()
        level = (
            parse_level_col(g(self.level_group))
            if self.level_group
            else F.lit(self.level_static)
        )
        message = (
            F.concat_ws(" ", *[g(m) for m in self.message_groups])
            if self.message_groups
            else F.lit(self.message_static)
        )
        if self.metadata_groups is None:
            entries = [(n_, n_) for n_ in idx]
        else:
            entries = [
                (e, e) if isinstance(e, str) else (e[0], e[1])
                for e in self.metadata_groups
            ]
            for _, grp in entries:
                if grp not in idx:
                    raise ValueError(
                        f"{self.name}: metadata group {grp!r} not in pattern"
                    )
        metadata = (
            F.create_map(
                *_it_chain.from_iterable((F.lit(k_), g(g_)) for k_, g_ in entries)
            )
            if entries
            else empty_metadata()
        )
        return lines, {
            "ok": ok, "ts": ts, "level": level,
            "message": message, "metadata": metadata,
        }


@dataclass(frozen=True)
class PandasParser:
    """User parse function over Arrow batches (the full scripting slot).

    ``fn(lines: pd.Series) -> pd.DataFrame`` with FLAT columns
    ok(bool) / timestamp(datetime64) / level(str) / message(str) /
    metadata_json(str: minified JSON object) — flat output so no Python
    dict crosses into an Arrow map (the scaling rule from
    operators/parse.py). ``candidate_re`` is an optional cheap codegen
    prefilter so non-candidates never reach Python.
    """

    name: str
    fn: Callable[[pd.Series], pd.DataFrame]
    candidate_re: str | None = None

    def plan(self, lines: DataFrame, claimed: Column):
        line = F.col("line")
        pred = ~claimed
        if self.candidate_re:
            pred = pred & line.rlike(self.candidate_re)
        udf = F.pandas_udf(self.fn, JSON_LINE_STRUCT)
        col = f"_pp_{self.name}"
        lines = lines.withColumn(col, udf(F.when(pred, line)))
        j = F.col(col)
        return lines, {
            "ok": F.coalesce(j["ok"], F.lit(False)),
            "ts": j["timestamp"],
            "level": j["level"],
            "message": j["message"],
            "metadata": F.from_json(j["metadata_json"], _EMPTY_MAP),
        }


@dataclass(frozen=True)
class _AccessBuiltin:
    name: str = "access"

    def plan(self, lines: DataFrame, claimed: Column):
        a = _access_exprs(F.col("line"))
        return lines, {
            "ok": a["ok"], "ts": a["ts"], "level": a["level"],
            "message": a["message"], "metadata": a["metadata"],
        }


@dataclass(frozen=True)
class _JsonBuiltin:
    """The hybrid JSON parser: codegen for provably from_json-exact
    lines, the spec-exact Arrow UDF for the rest — the JSON half of
    ``parse_records(impl="hybrid")`` (the router is
    ``parse.hybrid_needs_python``).

    Materializes its expensive scalars — the regex-only routing verdict,
    the JSON timestamp parse, the from_json map (built only for claimed
    rows, AFTER the Arrow crossing so no map crosses the Python node) —
    as helper columns (the rule at :func:`records_from_lines`). Claimed
    lines take their level/message/metadata from
    ``parse._json_map_fields``, whose NULL-map defense keeps a claimed
    row's metadata non-NULL.
    """

    name: str = "json"

    def plan(self, lines: DataFrame, claimed: Column):
        line = F.col("line")
        lines = (
            lines.withColumn(
                "_jtsr",
                F.when(
                    line.rlike(r"^\s*\{") & ~claimed,
                    F.regexp_extract(line, TS_VALUE_RE, 1),
                ),
            )
            .withColumn(
                "_jmts", F.try_to_timestamp(F.col("_jtsr"), F.lit(RFC3339_SPARK))
            )
            .withColumn(
                "_jsok",
                F.col("_jtsr").isNotNull()
                & _simple_ok_from(line, F.col("_jtsr"), F.col("_jmts")),
            )
            .withColumn(
                "_jp",
                _parse_json_only_udf(
                    F.when(
                        line.rlike(r"^\s*\{") & ~claimed & ~F.col("_jsok"), line
                    )
                ),
            )
            .withColumn(
                "_jm", F.when(F.col("_jsok"), F.from_json(line, _EMPTY_MAP))
            )
        )
        sok, j = F.col("_jsok"), F.col("_jp")
        pick = lambda a, b: F.when(sok, a).otherwise(b)  # noqa: E731
        claimed_fields = _json_map_fields(F.col("_jm"))
        return lines, {
            "ok": sok | F.coalesce(j["ok"], F.lit(False)),
            "ts": pick(F.col("_jmts"), j["timestamp"]),
            "level": pick(claimed_fields["level"], j["level"]),
            "message": pick(claimed_fields["message"], j["message"]),
            "metadata": pick(
                claimed_fields["metadata"],
                F.from_json(j["metadata_json"], _EMPTY_MAP),
            ),
        }


_REGISTRY: dict[str, LineParser] = {}


def register_parser(parser: LineParser, replace: bool = False) -> None:
    """Add a parser to the registry (the Lua drop-in-a-script analog)."""
    if parser.name in _REGISTRY and not replace:
        raise ValueError(f"parser {parser.name!r} already registered")
    _REGISTRY[parser.name] = parser


def unregister_parser(name: str) -> None:
    _REGISTRY.pop(name, None)


def get_parser(name: str) -> LineParser:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise ValueError(
            f"unknown parser {name!r}; registered: {sorted(_REGISTRY)}"
        ) from None


register_parser(_AccessBuiltin())
register_parser(_JsonBuiltin())


def parse_records_chain(
    pages: DataFrame,
    chain: tuple[str, ...] = ("access", "json"),
    use_html: bool = False,
) -> DataFrame:
    """pages -> records envelope through the registered parser chain.

    Chain order = claim precedence (the reference applies processors in
    configured order, engine/processor.go:91-107). The default chain
    is ``parse_records(pages, impl="hybrid")``.
    """
    return records_from_lines(explode_lines(pages, use_html=use_html), chain)


def records_from_lines(
    lines: DataFrame, chain: tuple[str, ...] = ("access", "json")
) -> DataFrame:
    """lines -> records envelope through the registered parser chain.

    ``lines`` must carry (url, warc_ts, lang, source, pos, line) — the
    shape ``explode_lines`` produces from pages, and the shape network
    sources (sources/kafka.py) produce directly: one message = one
    line. Works identically on batch and streaming frames (stateless
    narrow transforms only).
    """
    # Materialize expensive scalars once. Each parser materializes its
    # own (the access verdict, the from_json map, the timestamp parses,
    # the routing verdict, the UDF output struct) as helper columns, and
    # this assembler materializes each parser's verdict and
    # (conditionally) its value struct; the envelope then references
    # only those attributes. Nesting the expensive expressions directly
    # inside the per-field CASE/WHEN chains instead re-evaluates them
    # once per field per row: Spark's subexpression elimination skips
    # conditionally-evaluated branches, and CollapseProject will not
    # deduplicate non-cheap expressions, so the naive struct assembly
    # measured ~5x the CPU of one evaluation (scripts/parse_ablation.py).
    # Catalyst keeps these Projects separate (the intermediates are
    # non-cheap and multiply referenced), all inside one
    # WholeStageCodegen span — no shuffle, no extra pass.
    claimed: Column = F.lit(False)
    oks: list[Column] = []
    for i, name in enumerate(chain):
        lines, ex = get_parser(name).plan(lines, claimed)
        ok_col, val_col = f"_ok_{i}", f"_val_{i}"
        lines = lines.withColumn(ok_col, ex["ok"]).withColumn(
            val_col,
            F.when(
                F.col(ok_col),
                F.struct(
                    (
                        ex["ts"] if ex.get("ts") is not None else F.col("warc_ts")
                    ).alias("ts"),
                    ex["level"].alias("level"),
                    ex["message"].alias("message"),
                    ex["metadata"].alias("metadata"),
                ),
            ),
        )
        oks.append(F.col(ok_col))
        claimed = claimed | F.col(ok_col)

    def fold(key: str, default: Column) -> Column:
        out = None
        for i, ok in enumerate(oks):
            val = F.col(f"_val_{i}")[key]
            out = F.when(ok, val) if out is None else out.when(ok, val)
        return out.otherwise(default) if out is not None else default

    cat = None
    for name, ok in zip(chain, oks):
        cat = F.when(ok, name) if cat is None else cat.when(ok, name)
    cat = cat.otherwise(F.lit("unparsed")) if cat is not None else F.lit("unparsed")

    empty_map = empty_metadata()
    parsed = F.struct(
        fold("ts", F.col("warc_ts")).alias("timestamp"),
        fold("level", F.lit("UNKNOWN")).alias("level"),
        fold("message", F.lit("")).alias("message"),
        fold("metadata", empty_map).alias("metadata"),
        cat.alias("category"),
        (cat != "unparsed").alias("parse_ok"),
    )
    return lines.select(
        record_id().alias("id"),
        F.col("source"),
        parsed["timestamp"].alias("timestamp"),
        parsed["level"].alias("level"),
        parsed["message"].alias("message"),
        parsed["metadata"].alias("metadata"),
        parsed["category"].alias("category"),
        F.col("lang"),
        parsed["parse_ok"].alias("parse_ok"),
        F.col("url"),
        F.col("warc_ts"),
    )

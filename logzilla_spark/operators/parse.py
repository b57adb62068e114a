"""G1 — vectorized parse stage: pages -> structured log records.

Reimagines the reference's processor stage (the JSON processor,
reference: processor/json.go:39-80; the planned grok/regex processor,
reference: README.md:100-107; the error-tolerant chain,
reference: engine/processor.go:91-107) as a Spark DataFrame stage over
Common-Crawl-style pages:

    pages(url, warc_ts, html, text, lang)
      -> explode embedded log lines (JVM-side split/posexplode)
      -> per-line parse (Arrow pandas UDF, one batch per Arrow chunk)
      -> records envelope (id, source, timestamp, level, message,
         metadata, category, lang, parse_ok, url, warc_ts)

Three parse implementations, tested equal on the corpus:

- ``impl="arrow"`` — the spec-exact reference: one vectorized pandas
  UDF; JSON lines via C-json loads with exact leftover-keys semantics,
  access lines via vectorized ``str.extract`` grok regex. The default
  of ``parse_records``, ``bench.py`` and the streaming entry points.
- ``impl="native"`` — the zero-Python twin: pure built-in functions
  (``from_json`` / ``regexp_extract`` / ``try_to_timestamp``),
  whole-stage-codegen'd. A differential check on the reference.
- ``impl="hybrid"`` — the parser registry's default ``("access",
  "json")`` chain (:mod:`.parsers`), the one assembly the product
  pipeline and a configured chain both run. Access lines AND provably
  from_json-exact flat JSON lines stay in codegen; only the JSON lines
  from_json can't serve byte-exactly (nested values, escapes,
  floats/nulls, duplicated envelope keys, exotic timestamps, malformed
  tails) cross into the Arrow UDF, with flat UDF output so no Python
  dict ever crosses into an Arrow map. The router
  (:func:`hybrid_needs_python`) is conservative: any doubt routes the
  line to the spec-exact UDF, and ~98% of corpus rows never leave the
  JVM.

On the e2e benchmark arrow measures both the fastest and the
best-scaling on this box — parse-stage T_N/T_4N 3.56x vs native 3.28x
/ hybrid 3.29x (scripts/parse_ablation.py; BENCH/BASELINE.md) — since
a single Arrow crossing amortizes better than per-row queueing of
pass-through columns around the hybrid's Python node. hybrid is the
right shape where Python worker memory is the binding constraint.

Error tolerance contract (reference: engine/processor.go:99-102 +
processor/json.go:48-67): a line whose parse fails is NEVER dropped and
never raises; it flows on unchanged as category='unparsed' with
level=UNKNOWN, message='' (Go zero value), empty metadata, and
timestamp = ingest time (warc_ts). Per-record semantics:

- timestamp field must exist, be a JSON string, non-empty, and parse as
  RFC3339, else the parse fails (processor/json.go:48-57);
- level field must exist and be a string; normalized via the exact
  lowercase table (processor/util.go:9-24 — "warning" -> UNKNOWN);
- message field optional; non-string -> "" (processor/json.go:70-72);
- all remaining keys -> metadata map<string,string> with nested values
  JSON-encoded (processor/json.go:74-79; SURVEY.md §1.4).

Scale notes: the explode and envelope assembly are pure JVM expressions
(codegen). The Arrow UDF is the only Python crossing; it is stateless,
so 1000 executors run it embarrassingly parallel with no shuffle —
the stage preserves the input partitioning.
"""

from __future__ import annotations

import json
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.levels import parse_level_col, parse_level_pd
from pyspark.sql import types as _T

RFC3339_SPARK = "yyyy-MM-dd'T'HH:mm:ssX"
APACHE_TS_SPARK = "dd/MMM/yyyy:HH:mm:ss Z"
APACHE_TS_PD = "%d/%b/%Y:%H:%M:%S %z"

# Apache combined-ish access-line grok (reference README.md:100-107 names
# groups ip/timestamp/method/path/status/size)
ACCESS_RE = (
    r'^(?P<ip>\S+) \S+ \S+ \[(?P<ts>[^\]]+)\] '
    r'"(?P<method>\S+) (?P<path>\S+) (?P<proto>[^"]*)" '
    r'(?P<status>\d{3}) (?P<size>\d+)$'
)
# Same regex, group names stripped (Spark regexp_extract is index-based)
ACCESS_RE_SPARK = re.sub(r"\?P<[a-z]+>", "", ACCESS_RE)
# group indexes in ACCESS_RE_SPARK
_G_IP, _G_TS, _G_METHOD, _G_PATH, _G_PROTO, _G_STATUS, _G_SIZE = 1, 2, 3, 4, 5, 6, 7

ENVELOPE_KEYS = ("timestamp", "level", "message")


def record_id() -> Column:
    """Deterministic record id ``url#<pos zero-padded to >=4>``.

    Value-identical to ``printf('%04d', pos)`` (the DuckDB oracle's
    spelling) for the non-negative positions posexplode produces, but
    stays on the UTF8String lpad fast path instead of a per-row
    java.util.Formatter allocation — the id is materialized for every
    parsed record, and sort tie-breaks evaluate it again, so the
    ~1.5x expression cost difference is visible in search plans.
    lpad alone TRUNCATES five-digit positions (its target length is a
    hard cap), hence the length guard."""
    s = F.col("pos").cast("string")
    return F.concat(
        F.col("url"),
        F.lit("#"),
        F.when(F.length(s) >= 4, s).otherwise(F.lpad(s, 4, "0")),
    )


def empty_metadata() -> Column:
    """The records contract's empty metadata map (never-NULL defense).

    ONE definition shared by every parse path (native/arrow/hybrid and
    the registry chain in parsers.py) — the paths are bit-identical
    twins, so the defense must not be able to desynchronize between
    them."""
    return F.from_json(F.lit("{}"), "map<string,string>")

# --- hybrid-v2 routing: which JSON lines is from_json PROVABLY byte-exact
# for?  A line is "simple" when it is one flat JSON object whose keys are
# plain identifiers and whose values are backslash-free strings, integers,
# or booleans.  For exactly these tokens Spark's
# from_json(map<string,string>) emits the same text `_canon_str` would
# (verified: 42->"42", -7->"-7", true->"true"); `null` is excluded (it
# becomes a real NULL map value, not the string "null"), floats are
# excluded (from_json re-renders 1.50 as "1.5" but _canon_str(1.0)="1"),
# escapes are excluded (unescape paths could differ).  Everything that is
# NOT provably exact — nested values, escapes, floats, nulls, unicode
# keys, malformed JSON — still crosses into the spec-exact Arrow UDF.
# With Spark's mapKeyDedupPolicy=LAST_WIN (pinned in session.py) duplicate
# metadata keys keep-last exactly like json.loads; duplicated ENVELOPE
# keys can still flip a type under last-wins, so those lines are routed
# to the UDF too (ENV_DUP_RE below, conservatively matching value text).
_WS = r"[ \t\r]*"  # JSON-legal intra-line whitespace ONLY: \s would also
# match \x0b/\f, which both json.loads and Jackson reject — the match
# must PROVE the line is valid JSON to both parsers, since the router
# never consults from_json's success (see hybrid_needs_python).
_SIMPLE_VAL = (
    # strings: no escapes, no raw control chars (both parsers reject
    # unescaped control chars; the match must imply validity).
    # ints: no leading zeros (both parsers reject "042"), and no "-0"
    # (json.loads("-0") -> 0 -> "0" but from_json keeps the token "-0").
    r'("[^"\\\x00-\x1f]*"|(?:0|-[1-9]\d{0,14}|[1-9]\d{0,14})|true|false)'
)
_SIMPLE_PAIR = r'"[A-Za-z0-9_.\-]{1,64}"' + _WS + ":" + _WS + _SIMPLE_VAL
SIMPLE_JSON_RE = (
    "^" + _WS + r"\{" + _WS + "(" + _SIMPLE_PAIR + _WS + "," + _WS + ")*"
    + _SIMPLE_PAIR + _WS + r"\}" + _WS + "$"
)
# first "timestamp" string value, raw text between the quotes — for
# SIMPLE lines values are backslash-free, so raw text == decoded value,
# and the ENV_DUP_RE conjunct guarantees the key is unique.
TS_VALUE_RE = r'"timestamp"[ \t\r]*:[ \t\r]*"([^"]*)"'
ENV_DUP_RE = (
    r'("timestamp".*"timestamp")|("level".*"level")|("message".*"message")'
)
# full RFC3339 shape (the python-side _RFC3339_RE, same pattern text)
RFC3339_SHAPE_RE = (
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})$"
)


# --------------------------------------------------------------------------
# line extraction (JVM-side)
# --------------------------------------------------------------------------

def text_from_html(col: Column | str = "html") -> Column:
    """Decode the html binary and extract the <pre> payload.

    This is the byte-identical-extraction path (BASELINE.json north_rule):
    the result must equal the `text` column byte-for-byte per url.
    Single pinned decode path: strict UTF-8.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(F.decode(c, "UTF-8"), r"(?s)<pre>(.*)</pre>", 1)


def explode_lines(pages: DataFrame, use_html: bool = False) -> DataFrame:
    """pages -> one row per embedded log line, with position.

    JVM-side only (split + posexplode): no Python, no shuffle.
    Mirrors the reference's line splitter (source/file.go:101-117) and
    source tagging (source/file.go:104-107; `source` = url host here).
    """
    from ..sources.lines import LINES_COLUMNS

    text = text_from_html("html") if use_html else F.col("text")
    out = pages.select(
        "url",
        "warc_ts",
        "lang",
        F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("source"),
        # posexplode is a generator, so this select can't route through
        # lines_shape's one-expression-per-column signature; the
        # contract assertion below pins it to the shared definition
        F.posexplode(F.split(text, r"\n")).alias("pos", "line"),
    )
    assert tuple(out.columns) == LINES_COLUMNS
    return out


# --------------------------------------------------------------------------
# canonical Arrow pandas-UDF parse (impl="arrow")
# --------------------------------------------------------------------------

def _canon_str(v) -> str:
    """Canonical string form for metadata values (SURVEY.md §1.4).

    Matches Spark's from_json(map<string,string>) casts and DuckDB's
    json_extract_string on scalars; nested values minified JSON in
    document key order (what both other engines produce).
    """
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return "null"
    if isinstance(v, (int, float)):
        if isinstance(v, float) and v.is_integer():
            return str(int(v))
        return str(v)
    return json.dumps(v, separators=(",", ":"))


_RFC3339_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})$"
)


def _parse_json_line(raw: str):
    """One JSON line -> (ts_str, level_raw, message, metadata) or None.

    Exact reference contract, processor/json.go:39-80. Called per
    JSON-candidate line inside an Arrow batch (C-accelerated json);
    timestamp STRING validation happens here, the actual datetime
    conversion is vectorized over the whole batch by the caller.
    """
    try:
        data = json.loads(raw)
    except (ValueError, TypeError):
        return None
    if not isinstance(data, dict):
        return None
    ts_val = data.get("timestamp")
    if not isinstance(ts_val, str) or ts_val == "" or not _RFC3339_RE.match(ts_val):
        return None  # json.go:48-57 (time.Parse(RFC3339) strictness)
    del data["timestamp"]
    lvl_val = data.get("level")
    if not isinstance(lvl_val, str):
        return None  # json.go:61-67
    del data["level"]
    msg_val = data.pop("message", None)  # json.go:70-72: non-string -> ""
    message = msg_val if isinstance(msg_val, str) else ""
    metadata = {k: _canon_str(v) for k, v in data.items()}
    return ts_val, lvl_val, message, metadata


def _parse_batch(line: pd.Series, warc_ts: pd.Series) -> pd.DataFrame:
    """Vectorized per-batch parse.

    Hot-path discipline: no per-row pandas indexing — regex extraction,
    timestamp parsing and level mapping are whole-batch vectorized;
    the only per-row Python is one C-json loads per JSON candidate,
    with results scattered via numpy fancy indexing.
    """
    n = len(line)
    line = line.fillna("").reset_index(drop=True)
    lines_np = line.to_numpy(dtype=object)

    timestamp = warc_ts.reset_index(drop=True).copy()  # fallback: ingest time
    level = np.full(n, "UNKNOWN", dtype=object)
    message = np.full(n, "", dtype=object)
    metadata = np.empty(n, dtype=object)
    metadata[:] = [{}] * n  # shared empty dict is fine (read-only)
    category = np.full(n, "unparsed", dtype=object)

    # --- access lines: one vectorized grok regex over the whole batch ---
    acc = line.str.extract(ACCESS_RE)
    ts_acc = pd.to_datetime(acc["ts"], format=APACHE_TS_PD, errors="coerce", utc=True)
    acc_ok = (acc["status"].notna() & ts_acc.notna()).to_numpy()
    if acc_ok.any():
        status = acc["status"].to_numpy(dtype="float64", na_value=np.nan)
        lvl = np.where(status < 400, "INFO", np.where(status < 500, "WARN", "ERROR"))
        timestamp[acc_ok] = ts_acc.dt.tz_localize(None)[acc_ok]
        level[acc_ok] = lvl[acc_ok]
        message[acc_ok] = (acc["method"] + " " + acc["path"]).to_numpy(dtype=object)[acc_ok]
        idx = np.flatnonzero(acc_ok)
        sub = acc.iloc[idx]
        metadata[idx] = [
            {"ip": r.ip, "method": r.method, "path": r.path,
             "status": r.status, "size": r.size}
            for r in sub.itertuples()
        ]
        category[acc_ok] = "access"

    # --- JSON lines: one C-json loads per candidate, batch-scattered ---
    jmask = line.str.match(r"\s*\{").to_numpy() & ~acc_ok
    if jmask.any():
        jidx = np.flatnonzero(jmask)
        parsed = [_parse_json_line(s) for s in lines_np[jidx]]
        ok = np.fromiter((p is not None for p in parsed), bool, len(parsed))
        okidx = jidx[ok]
        if len(okidx):
            good = [p for p in parsed if p is not None]
            ts_parsed = pd.to_datetime(
                pd.Series([p[0] for p in good]),
                format="ISO8601", errors="coerce", utc=True,
            ).dt.tz_localize(None)
            timestamp[okidx] = ts_parsed.to_numpy()
            level[okidx] = parse_level_pd(
                pd.Series([p[1] for p in good], dtype=object)
            ).to_numpy(dtype=object)
            message[okidx] = np.array([p[2] for p in good], dtype=object)
            metadata[okidx] = np.array([p[3] for p in good], dtype=object)
            category[okidx] = "json"

    # metadata leaves Python as ONE canonical minified JSON string per
    # row (document key order), decoded to map<string,string> by ONE
    # from_json JVM-side: converting per-row Python dicts into Arrow
    # maps is the memory-bandwidth hot spot at high core counts (same
    # flat-output rule as _parse_json_only_batch; JSON string round-trip
    # is lossless, so the decoded map is byte-identical to the dict).
    dumps = json.dumps
    meta_json = np.array(
        [dumps(d, separators=(",", ":")) for d in metadata], dtype=object
    )
    return pd.DataFrame(
        {
            "timestamp": pd.to_datetime(timestamp),
            "level": level,
            "message": message,
            "metadata_json": meta_json,
            "category": category,
            "parse_ok": category != "unparsed",
        }
    )


PARSED_LINE_FLAT_STRUCT = _T.StructType(
    [
        _T.StructField("timestamp", _T.TimestampType()),
        _T.StructField("level", _T.StringType()),
        _T.StructField("message", _T.StringType()),
        _T.StructField("metadata_json", _T.StringType()),
        _T.StructField("category", _T.StringType()),
        _T.StructField("parse_ok", _T.BooleanType()),
    ]
)

_parse_line_udf = F.pandas_udf(_parse_batch, PARSED_LINE_FLAT_STRUCT)


# --------------------------------------------------------------------------
# JSON-only Arrow UDF: the registry json parser's spec-exact fallback
# (parsers.py), flat Arrow output
# --------------------------------------------------------------------------

def _parse_json_only_batch(line: pd.Series) -> pd.DataFrame:
    """JSON-contract parse for one Arrow batch; non-candidates are null.

    Same per-row semantics as :func:`_parse_json_line` (the spec-exact
    path). Output is deliberately FLAT — ok/timestamp/level/message are
    scalars and metadata leaves Python as ONE canonical JSON string per
    row (minified, document key order), decoded to map<string,string>
    by ``from_json`` JVM-side. No Python dict is ever converted into an
    Arrow map: that conversion is the memory-bandwidth hot spot that
    breaks scaling at high core counts (BENCH/BASELINE.md methodology).
    """
    line = line.reset_index(drop=True)
    n = len(line)
    ok = np.zeros(n, dtype=bool)
    level = np.full(n, None, dtype=object)
    message = np.full(n, None, dtype=object)
    meta_json = np.full(n, None, dtype=object)
    timestamp = pd.Series(pd.NaT, index=range(n), dtype="datetime64[ns]")
    mask = line.notna().to_numpy()
    if mask.any():
        idx = np.flatnonzero(mask)
        parsed = [_parse_json_line(s) for s in line.to_numpy(dtype=object)[idx]]
        okl = np.fromiter((p is not None for p in parsed), bool, len(parsed))
        okidx = idx[okl]
        if len(okidx):
            good = [p for p in parsed if p is not None]
            ts_parsed = pd.to_datetime(
                pd.Series([p[0] for p in good]),
                format="ISO8601", errors="coerce", utc=True,
            ).dt.tz_localize(None)
            timestamp[okidx] = ts_parsed.to_numpy()
            level[okidx] = parse_level_pd(
                pd.Series([p[1] for p in good], dtype=object)
            ).to_numpy(dtype=object)
            message[okidx] = np.array([p[2] for p in good], dtype=object)
            meta_json[okidx] = np.array(
                [json.dumps(p[3], separators=(",", ":")) for p in good],
                dtype=object,
            )
            ok[okidx] = True
    return pd.DataFrame(
        {
            "ok": ok,
            "timestamp": timestamp,
            "level": level,
            "message": message,
            "metadata_json": meta_json,
        }
    )


JSON_LINE_STRUCT = _T.StructType(
    [
        _T.StructField("ok", _T.BooleanType()),
        _T.StructField("timestamp", _T.TimestampType()),
        _T.StructField("level", _T.StringType()),
        _T.StructField("message", _T.StringType()),
        _T.StructField("metadata_json", _T.StringType()),
    ]
)

_parse_json_only_udf = F.pandas_udf(_parse_json_only_batch, JSON_LINE_STRUCT)


def _access_exprs(line: Column) -> dict[str, Column]:
    """Codegen'd access-line grok: ok/ts/level/message/metadata columns.

    Shared by the native twin and the registry's access parser
    (parsers.py). Spark executes one compiled regex per extract;
    Tungsten keeps it cache-resident — this is the branch whose total
    CPU stays flat from 8 to 32 cores.
    """
    acc_ts = F.try_to_timestamp(
        F.regexp_extract(line, ACCESS_RE_SPARK, _G_TS), F.lit(APACHE_TS_SPARK)
    )
    status = F.regexp_extract(line, ACCESS_RE_SPARK, _G_STATUS).cast("int")
    return {
        "ok": line.rlike(ACCESS_RE_SPARK) & acc_ts.isNotNull(),
        "ts": acc_ts,
        "level": F.when(status < 400, "INFO").when(status < 500, "WARN").otherwise("ERROR"),
        "message": F.concat_ws(
            " ",
            F.regexp_extract(line, ACCESS_RE_SPARK, _G_METHOD),
            F.regexp_extract(line, ACCESS_RE_SPARK, _G_PATH),
        ),
        "metadata": F.create_map(
            F.lit("ip"), F.regexp_extract(line, ACCESS_RE_SPARK, _G_IP),
            F.lit("method"), F.regexp_extract(line, ACCESS_RE_SPARK, _G_METHOD),
            F.lit("path"), F.regexp_extract(line, ACCESS_RE_SPARK, _G_PATH),
            F.lit("status"), F.regexp_extract(line, ACCESS_RE_SPARK, _G_STATUS),
            F.lit("size"), F.regexp_extract(line, ACCESS_RE_SPARK, _G_SIZE),
        ),
    }


def _simple_ok_from(line: Column, ts_raw: Column, ts_parsed: Column) -> Column:
    """The verdict conjuncts over (possibly pre-materialized) inputs."""
    return (
        line.rlike(SIMPLE_JSON_RE)
        & ~line.rlike(ENV_DUP_RE)
        & line.rlike(r'"level"\s*:\s*"')
        & ts_raw.rlike(RFC3339_SHAPE_RE)
        & ts_parsed.isNotNull()
    )


def hybrid_needs_python(line: Column) -> Column:
    """Which lines must cross into the Arrow UDF under impl="hybrid".

    JSON candidates minus the provably from_json-exact ones — on the
    benchmark corpus this is only the malformed tail (~2% of lines),
    so the mandatory Arrow-UDF stage keeps its spec-exact role while
    ~98% of rows stay inside whole-stage codegen (the scaling-efficient
    shape, BENCH/BASELINE.md).

    The verdict is REGEX-ONLY: a SIMPLE_JSON_RE match PROVES the line is
    valid JSON to both json.loads and Jackson (values have no escapes /
    control chars / bad number forms, whitespace is JSON-legal), so
    from_json success need not be consulted — which keeps the verdict
    out of the map-building expression and lets the json parser
    (parsers.py) defer from_json to AFTER the Arrow crossing, for
    claimed rows only. For SIMPLE lines the raw timestamp text equals
    the decoded value (backslash-free), and ENV_DUP_RE rejection makes
    its first occurrence the only one.
    """
    ts_raw = F.regexp_extract(line, TS_VALUE_RE, 1)
    ts_parsed = F.try_to_timestamp(ts_raw, F.lit(RFC3339_SPARK))
    return line.rlike(r"^\s*\{") & ~_simple_ok_from(line, ts_raw, ts_parsed)


# --------------------------------------------------------------------------
# built-in-functions twin (impl="native") — zero Python, fully codegen'd
# --------------------------------------------------------------------------

def _native_frame(lines: DataFrame) -> DataFrame:
    """Materialize the native-twin columns once (the materialization
    rule at parsers.records_from_lines): _ats/_aok, _m/_mts/_jok."""
    line = F.col("line")
    return (
        lines.withColumn(
            "_ats",
            F.try_to_timestamp(
                F.regexp_extract(line, ACCESS_RE_SPARK, _G_TS),
                F.lit(APACHE_TS_SPARK),
            ),
        )
        .withColumn("_aok", line.rlike(ACCESS_RE_SPARK) & F.col("_ats").isNotNull())
        .withColumn(
            "_m",
            F.when(line.rlike(r"^\s*\{"), F.from_json(line, "map<string,string>")),
        )
        .withColumn(
            "_mts",
            F.try_to_timestamp(F.col("_m")["timestamp"], F.lit(RFC3339_SPARK)),
        )
        .withColumn(
            "_jok",
            # level/timestamp must be present as JSON *strings*
            # (json.go:61-67); from_json stringifies scalars, so check
            # the raw text for a quoted value.
            F.col("_m").isNotNull()
            & F.col("_mts").isNotNull()
            & line.rlike(r'"timestamp"\s*:\s*"')
            & line.rlike(r'"level"\s*:\s*"'),
        )
    )


def _json_map_fields(m: Column) -> dict[str, Column]:
    """Field exprs for a JVM-parsed JSON line given its materialized map.

    message must be a JSON string, else '' (json.go:70-72); from_json
    stringifies scalars, so gate on the raw text like level above.

    Defense for the regex-only routing verdict: if SIMPLE_JSON_RE ever
    admits a line Jackson rejects (future regex edits, Jackson
    StreamReadConstraints), ``m`` is NULL on a claimed row. level
    already falls through parse_level_col's UNKNOWN path and message
    coalesces to ''; metadata coalesces to the EMPTY map here so the
    claimed branch can never emit NULL metadata — a conservative
    envelope instead of a silent contract break.
    """
    empty_map = empty_metadata()
    return {
        "level": parse_level_col(m["level"]),
        "message": F.when(
            F.col("line").rlike(r'"message"\s*:\s*"'),
            F.coalesce(m["message"], F.lit("")),
        ).otherwise(F.lit("")),
        "metadata": F.coalesce(
            F.map_filter(m, lambda k, _: ~k.isin(*ENVELOPE_KEYS)), empty_map
        ),
    }


def _assembled_fields(
    branches: list[tuple[Column, str, dict[str, Column]]]
) -> dict[str, Column]:
    """Final per-field CASE/WHEN chains over materialized attributes.

    ``branches``: (ok, category_label, field exprs) in claim-precedence
    order. The ok columns are plain attributes, so chaining them is
    cheap; each branch's value exprs are evaluated per-row only when
    that branch claims the row.
    """
    empty_map = empty_metadata()
    fallback = {
        "ts": F.col("warc_ts"),
        "level": F.lit("UNKNOWN"),
        "message": F.lit(""),
        "metadata": empty_map,
    }

    def fold(key: str) -> Column:
        out = None
        for ok, _label, ex in branches:
            out = F.when(ok, ex[key]) if out is None else out.when(ok, ex[key])
        return out.otherwise(fallback[key])

    category = None
    for ok, label, _ex in branches:
        category = (
            F.when(ok, label) if category is None else category.when(ok, label)
        )
    category = category.otherwise(F.lit("unparsed"))
    return {
        "timestamp": fold("ts"),
        "level": fold("level"),
        "message": fold("message"),
        "metadata": fold("metadata"),
        "category": category,
        "parse_ok": category != F.lit("unparsed"),
    }


# --------------------------------------------------------------------------
# public entry
# --------------------------------------------------------------------------

def parse_records(
    pages: DataFrame, impl: str = "arrow", use_html: bool = False
) -> DataFrame:
    """Full parse stage: pages -> records envelope (RECORDS_SCHEMA).

    ``impl``: "arrow" (the spec-exact pandas UDF reference), "native"
    (the zero-Python built-ins twin), or "hybrid" — the parser
    registry's default ``("access", "json")`` chain, i.e.
    ``parsers.parse_records_chain(pages)``, which ``Pipeline`` runs by
    default. All three are oracle-checked equal on the corpus.
    ``use_html``: parse lines extracted from the html binary instead of
    the text column (fidelity invariant makes them identical).
    """
    lines = explode_lines(pages, use_html=use_html)
    if impl == "hybrid":
        # imported here: parsers.py imports this module at load time
        from .parsers import records_from_lines

        return records_from_lines(lines, ("access", "json"))
    if impl == "arrow":
        parsed = _parse_line_udf(F.col("line"), F.col("warc_ts"))
        fields = {
            k: parsed[k]
            for k in ("timestamp", "level", "message", "category", "parse_ok")
        }
        # ONE JVM-side decode of the flat metadata string (see
        # _parse_batch: no Python dict ever becomes an Arrow map)
        fields["metadata"] = F.from_json(
            parsed["metadata_json"], "map<string,string>"
        )
    elif impl == "native":
        lines = _native_frame(lines)
        acc = _access_exprs(F.col("line"))
        # json first, then access (the twin's documented precedence;
        # the two claim sets are disjoint on any real corpus)
        fields = _assembled_fields([
            (F.col("_jok"), "json", {"ts": F.col("_mts"), **_json_map_fields(F.col("_m"))}),
            (F.col("_aok"), "access", {"ts": F.col("_ats"), **{k: acc[k] for k in ("level", "message", "metadata")}}),
        ])
    else:
        raise ValueError(f"unknown parse impl: {impl!r}")
    return lines.select(
        record_id().alias("id"),
        F.col("source"),
        fields["timestamp"].alias("timestamp"),
        fields["level"].alias("level"),
        fields["message"].alias("message"),
        fields["metadata"].alias("metadata"),
        fields["category"].alias("category"),
        F.col("lang"),
        fields["parse_ok"].alias("parse_ok"),
        F.col("url"),
        F.col("warc_ts"),
    )

#!/usr/bin/env python
"""Driver-style correctness gate: every queries() entry vs its DuckDB oracle.

Mirrors the per-round CORRECTNESS check: for each query name, run the
Spark callable AND the oracle SQL on the same parquet tables (SF from
$SPARK_GRAFT_VERIFY_SF, default sf0.01 — oracle paths follow the SF),
then compare row count, sorted column names, and an order-insensitive
stringified value multiset. Queries without an oracle entry get a
rows-only smoke check. Usage:

    python scripts/verify_oracle.py [name-substring ...]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Queries whose DUCKDB side is intractable above the sf0.01 gate scale:
# q_dedup_clusters' twin is a recursive transitive closure — O(sum of
# component-size^2) rows, which explodes on the sf0.1 minhash graph's
# mega-components (the Spark side is fine; this is an oracle-engine
# limit). At bigger SFs the clustering is verified exactly by
# scripts/verify_clusters_unionfind.py instead; set
# SPARK_GRAFT_VERIFY_ALL=1 to force the closure anyway.
CLOSURE_GATE_ONLY = {"q_dedup_clusters"}


def canon_cell(v) -> str:
    import datetime
    import math

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # Spark-written parquet (the directory corpora at scaling SFs)
        # annotates timestamps isAdjustedToUTC, so DuckDB surfaces
        # TIMESTAMPTZ where the single-file fixtures read naive — the
        # same instant under the pinned-UTC session. Compare instants,
        # not renderings.
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return str(v)


def canon_df(pdf) -> tuple[list[str], Counter]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = Counter(
        tuple(canon_cell(v) for v in row) for row in pdf.itertuples(index=False)
    )
    return cols, rows


def main() -> int:
    only = sys.argv[1:]
    import __spark_entry__ as entry
    from logzilla_spark.session import get_spark

    spark = get_spark(app_name="verify-oracle")
    qs, osql = entry.queries(), entry.oracle_sql(SF_DIR)
    assert set(osql) <= set(qs), sorted(set(osql) - set(qs))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_fail = 0
    gate_sf = "sf0.01" in SF_DIR
    force_all = os.environ.get("SPARK_GRAFT_VERIFY_ALL") == "1"
    for name in sorted(qs):
        if only and not any(s in name for s in only):
            continue
        if name in CLOSURE_GATE_ONLY and not gate_sf and not force_all:
            print(f"{name}: SKIP (oracle closure is gate-scale only — "
                  "run scripts/verify_clusters_unionfind.py at this SF)")
            continue
        try:
            spdf = qs[name](spark, SF_DIR).toPandas()
            if name not in osql:
                print(f"{name}: rows-only {len(spdf)} OK(no-oracle)")
                continue
            odf = con.sql(osql[name]).df()
            sc, sr = canon_df(spdf)
            oc, orows = canon_df(odf)
            ok_rows = len(spdf) == len(odf)
            ok_schema = sc == oc
            ok_hash = sr == orows
            status = "OK" if (ok_rows and ok_schema and ok_hash) else "FAIL"
            if status == "FAIL":
                n_fail += 1
                detail = []
                if not ok_rows:
                    detail.append(f"rows {len(spdf)}!={len(odf)}")
                if not ok_schema:
                    detail.append(f"schema {sc}!={oc}")
                if ok_rows and ok_schema and not ok_hash:
                    diff = (sr - orows) + (orows - sr)
                    detail.append(f"values diff e.g. {list(diff)[:2]}")
                print(f"{name}: FAIL ({'; '.join(detail)})")
            else:
                print(f"{name}: OK rows={len(spdf)}")
        except Exception as exc:  # noqa: BLE001 — report, keep going
            n_fail += 1
            print(f"{name}: ERROR {type(exc).__name__}: {str(exc)[:200]}")
    spark.stop()
    print(f"{'PASS' if n_fail == 0 else 'FAIL'} ({n_fail} failures)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

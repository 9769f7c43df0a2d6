"""Run the driver correctness gate locally: execute each registered
query on Spark and its DuckDB oracle side by side at a given SF and
compare rows/columns/values the same way the round driver does
(sort columns by name, sort rows, string-compare non-floats,
isclose floats).

Usage:
    python scripts/gatecheck.py                 # all queries, sf0.01
    python scripts/gatecheck.py name1 name2     # subset
    python scripts/gatecheck.py scale_gate      # queries carrying a tag
    SF_DIR=/root/testdata/sf0.001 python scripts/gatecheck.py ...
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em  # noqa: E402
from pic2vec_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def compare(spdf, ddf) -> tuple[bool, str]:
    if sorted(spdf.columns) != sorted(ddf.columns):
        return False, f"schema {sorted(spdf.columns)} vs {sorted(ddf.columns)}"
    if len(spdf) != len(ddf):
        return False, f"rows {len(spdf)} vs {len(ddf)}"
    cols = sorted(spdf.columns)
    a = spdf[cols].sort_values(cols).reset_index(drop=True)
    b = ddf[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            x = a[c].values.astype(float)
            y = b[c].values.astype(float)
            ok = (np.isnan(x) & np.isnan(y)) | np.isclose(x, y, atol=1e-6)
            if not bool(ok.all()):
                i = int(np.argmin(ok))
                return False, f"col {c} row {i}: {x[i]!r} vs {y[i]!r}"
        else:
            xs = a[c].astype(str).values
            ys = b[c].astype(str).values
            neq = xs != ys
            if bool(neq.any()):
                i = int(np.argmax(neq))
                return False, f"col {c} row {i}: {xs[i]!r} vs {ys[i]!r}"
    return True, ""


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    qs = em.queries()
    wanted = set()
    for arg in sys.argv[1:]:
        if arg in em.QUERY_TAGS:
            wanted |= set(em.tagged(arg))
        elif arg in qs:
            wanted.add(arg)
        else:
            raise SystemExit(f"not a query name or tag: {arg}")
    spark = get_spark("gatecheck", parallelism=int(os.environ.get("CPUS", "16")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = em.oracle_sql()
    results = {}
    timings = {}
    fails = 0
    for name, fn in qs.items():
        if wanted and name not in wanted:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name:32s} ERROR spark: {e}", flush=True)
            results[name] = "spark_error"
            fails += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            dt = time.time() - t0
            timings[name] = round(dt, 2)
            print(f"{name:32s} {len(spdf):>7d} rows-only        {dt:5.1f}s", flush=True)
            results[name] = f"rows_only:{len(spdf)}"
            continue
        try:
            ddf = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001
            timings[name] = round(time.time() - t0, 2)
            print(f"{name:32s} ERROR oracle: {e}", flush=True)
            results[name] = "oracle_error"
            fails += 1
            continue
        ok, why = compare(spdf, ddf)
        dt = time.time() - t0
        timings[name] = round(dt, 2)
        status = "MATCH" if ok else f"MISMATCH {why}"
        print(f"{name:32s} {len(spdf):>7d} {status:16s} {dt:5.1f}s", flush=True)
        results[name] = "match" if ok else f"mismatch:{why}"
        fails += 0 if ok else 1
    print(json.dumps({"fails": fails, "n": len(results)}), flush=True)
    out = os.environ.get("GATECHECK_OUT")
    if out:
        with open(out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "oracle_sf_dir": em.ORACLE_SF_DIR,
                    "fails": fails,
                    "results": results,
                    "wall_sec": timings,
                },
                f,
                indent=1,
            )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())

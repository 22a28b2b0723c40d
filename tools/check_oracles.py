"""Local replica of the driver's dual-engine correctness check.

Runs every REGISTRY query on Spark and its oracle on DuckDB over the same
sf dir, compares row count, column names, and order-insensitive values.
Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb


def normalize(rows: list[tuple]) -> list[tuple]:
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(round(v, 9))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from opentelemetry_collector_contrib_spark.driver_queries import REGISTRY
    from opentelemetry_collector_contrib_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")

    con = duckdb.connect()
    for t in ["events", "documents"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = 0
    for q in REGISTRY:
        if only and q.name not in only:
            continue
        try:
            sdf = q.fn(spark, sf_dir)
            s_cols = sorted(sdf.columns)
            s_rows = [tuple(r[c] for c in s_cols) for r in sdf.collect()]
            if q.sql is None:
                print(f"  {q.name:<28} rows-only: {len(s_rows)} rows")
                continue
            res = con.execute(q.sql)
            d_cols_raw = [d[0] for d in res.description]
            d_all = res.fetchall()
            idx = [d_cols_raw.index(c) for c in sorted(d_cols_raw)]
            d_cols = sorted(d_cols_raw)
            d_rows = [tuple(r[i] for i in idx) for r in d_all]
            ok_cols = s_cols == d_cols
            ns, nd = normalize(s_rows), normalize(d_rows)
            ok_vals = ns == nd
            status = "OK " if (ok_cols and ok_vals) else "FAIL"
            print(f"  {q.name:<28} {status} spark={len(s_rows)} duck={len(d_rows)} cols_ok={ok_cols}")
            if not (ok_cols and ok_vals):
                failures += 1
                if not ok_cols:
                    print(f"    spark cols: {s_cols}\n    duck  cols: {d_cols}")
                else:
                    diff_a = [r for r in ns if r not in set(nd)][:3]
                    diff_b = [r for r in nd if r not in set(ns)][:3]
                    print(f"    spark-only: {diff_a}\n    duck-only : {diff_b}")
        except Exception as e:
            failures += 1
            print(f"  {q.name:<28} ERROR {type(e).__name__}: {str(e)[:300]}")
    spark.stop()
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Builder-side correctness self-check (VERDICT r5 #2): compare every
graft.Verify parquet dump against its DuckDB oracle — row count, schema
(column names), and order-insensitive full-content multiset equality.

Usage: python3 tools/selfcheck.py <verify_out_dir> <sf_dir> [out_json]

The verify dir must contain oracle_sql.json (with {AUX} already resolved
by graft.Verify) and one parquet dir per query. Each oracle runs with its
CTEs materialized (see `materialized`).
"""
import json
import os
import re
import sys
import time

import duckdb

# A CTE head, `name AS (` or `name(col, ...) AS (`, or a named window
# (`WINDOW w AS (`), which is left as it is.
CTE_HEAD = re.compile(r"(\bWINDOW\s+)?(\b\w+(?:\s*\([^()]*\))?)\s+AS\s*\(", re.IGNORECASE)


def materialized(sql):
    """`sql` with every CTE computed once (`name AS MATERIALIZED (`).

    DuckDB 1.0 inlines a CTE at each reference, so an unrolled chain whose
    step reads the previous step four times (q_kg_kcore's six k-core
    rounds) holds 4^6 copies of its first round and spilled ~18 GB at
    sf0.001.
    Materializing changes no row of the result; the oracle text itself
    (SparkEntry.oracleSql) stays as written.
    """
    return CTE_HEAD.sub(
        lambda m: m.group(0) if m.group(1) else m.group(2) + " AS MATERIALIZED (", sql)


def main():
    vdir, sfdir = sys.argv[1], sys.argv[2]
    out_json = sys.argv[3] if len(sys.argv) > 3 else None
    oracles = json.load(open(os.path.join(vdir, "oracle_sql.json")))
    con = duckdb.connect()
    # base tables: one view per sf parquet file
    for f in os.listdir(sfdir):
        if f.endswith(".parquet"):
            name = f[: -len(".parquet")]
            path = os.path.join(sfdir, f)
            glob = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')"
            )
    results = {}
    n_pass = n_fail = 0
    for name in sorted(oracles):
        t0 = time.time()
        spark_dir = os.path.join(vdir, name)
        if not os.path.isdir(spark_dir):
            results[name] = {"status": "MISSING_SPARK_OUTPUT"}
            n_fail += 1
            print(f"{results[name]['status']:18s} {name}", flush=True)
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')"
            ).fetch_arrow_table()
            want = con.execute(materialized(oracles[name])).fetch_arrow_table()
            g_cols = sorted(got.column_names)
            w_cols = sorted(want.column_names)
            if g_cols != w_cols:
                results[name] = {
                    "status": "SCHEMA_MISMATCH",
                    "spark_cols": g_cols,
                    "oracle_cols": w_cols,
                }
                n_fail += 1
                print(f"{results[name]['status']:18s} {name}", flush=True)
                continue
            if got.num_rows != want.num_rows:
                results[name] = {
                    "status": "ROWCOUNT_MISMATCH",
                    "spark_rows": got.num_rows,
                    "oracle_rows": want.num_rows,
                }
                n_fail += 1
                print(f"{results[name]['status']:18s} {name}", flush=True)
                continue
            # order-insensitive content compare: register both, EXCEPT ALL
            # in both directions over name-sorted columns
            con.register("t_got", got)
            con.register("t_want", want)
            cols = ", ".join(f'"{c}"' for c in g_cols)
            d1 = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM t_got EXCEPT ALL SELECT {cols} FROM t_want)"
            ).fetchone()[0]
            d2 = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM t_want EXCEPT ALL SELECT {cols} FROM t_got)"
            ).fetchone()[0]
            if d1 == 0 and d2 == 0:
                results[name] = {
                    "status": "PASS",
                    "rows": got.num_rows,
                    "oracle_sec": round(time.time() - t0, 2),
                }
                n_pass += 1
            else:
                results[name] = {
                    "status": "CONTENT_MISMATCH",
                    "extra_in_spark": d1,
                    "extra_in_oracle": d2,
                }
                n_fail += 1
            con.unregister("t_got")
            con.unregister("t_want")
        except Exception as e:  # noqa: BLE001 — record and continue
            results[name] = {"status": "ERROR", "error": str(e)[:500]}
            n_fail += 1
        print(f"{results[name]['status']:18s} {name}", flush=True)
    summary = {
        "pass": n_pass,
        "fail": n_fail,
        "total": len(oracles),
        "verify_dir": vdir,
        "sf_dir": sfdir,
        "results": results,
    }
    if out_json:
        with open(out_json, "w") as f:
            json.dump(summary, f, indent=1)
    print(f"\n{n_pass}/{len(oracles)} PASS, {n_fail} FAIL")
    sys.exit(0 if n_fail == 0 else 1)


if __name__ == "__main__":
    main()

"""Local replica of the driver's correctness gate.

Runs every `__spark_entry__.queries()` entry at the given sf and compares
against `oracle_sql()` via DuckDB: row count, sorted column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
stringified with float rounding). Usage:

    python tools/verify_oracle.py [sf_dir] [query ...] [--json OUT.json]

`--json` writes a CORRECTNESS_r{N}-shaped artifact (per-query rows/schema/
hash match + err + timings) — the per-round FULLVERIFY_r{N}.json that
covers the whole 109-query registry, not just the driver's 50-window.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6).astype(str)
        else:
            df[c] = df[c].astype(str)
    rows = sorted(df.itertuples(index=False, name=None))
    return hashlib.md5(str(rows).encode()).hexdigest()


def main() -> None:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv and os.path.isdir(argv[0]) else "/root/testdata/sf0.01"
    only = [a for a in argv if not os.path.isdir(a)]

    import __spark_entry__ as entry_mod
    from gmall_flink_200621_spark.session import get_spark

    # get_spark's 48 g default driver heap is sized for a cluster driver;
    # a one-box verify run fits in 4 g (the test session's cap)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

    # per-process warehouse: the stream views' catalog tables are
    # namespaced per SF (sf_namespace), which makes concurrent runs at
    # DIFFERENT SFs safe — but two processes at the SAME SF (e.g. this
    # tool alongside plan_audit) would collide on
    # $PWD/spark-warehouse/<same table>. A temp dir isolates the process
    # completely; replay idempotence within the process is unaffected.
    import tempfile

    spark = get_spark(
        "verify_oracle",
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="sg_verify_wh_")
        },
    )
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = only or list(queries)
    failures = []
    report: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            report[name] = {"rows_match": False, "schema_match": False, "hash_match": False, "err": f"spark: {e}"}
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"rows-only  {name}: {len(sdf)} rows  ({t_spark:.1f}s)")
            report[name] = {"rows_only": True, "spark_rows": len(sdf), "err": None, "secs": round(t_spark, 2)}
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            report[name] = {"rows_match": False, "schema_match": False, "hash_match": False, "err": f"duckdb: {e}"}
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_rows and ok_cols and norm_hash(sdf) == norm_hash(odf)
        status = "OK   " if (ok_rows and ok_cols and ok_hash) else "FAIL "
        if status.startswith("FAIL"):
            failures.append(name)
        report[name] = {
            "rows_match": ok_rows,
            "schema_match": ok_cols,
            "hash_match": ok_hash,
            "spark_rows": len(sdf),
            "oracle_rows": len(odf),
            "err": None,
            "secs": round(t_spark, 2),
        }
        print(
            f"{status} {name}: spark={len(sdf)} oracle={len(odf)} rows"
            f" cols_match={ok_cols} hash_match={ok_hash} ({t_spark:.1f}s)"
        )
        if not ok_cols:
            print(f"       spark cols:  {sorted(sdf.columns)}")
            print(f"       oracle cols: {sorted(odf.columns)}")
        if ok_rows and ok_cols and not ok_hash and len(sdf) < 50000:
            s = sdf[sorted(sdf.columns)].sort_values(sorted(sdf.columns)).reset_index(drop=True)
            o = odf[sorted(odf.columns)].sort_values(sorted(odf.columns)).reset_index(drop=True)
            diff = (s.astype(str) != o.astype(str)).any(axis=1)
            print(f"       first diffs:\n{pd.concat([s[diff].head(3), o[diff].head(3)], keys=['spark','oracle'])}")
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "passed": len(names) - len(failures), "total": len(names), "queries": report}, f, indent=1)
        print(f"wrote {json_out}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching SQL from oracle_sql.json in DuckDB against the sfDir parquet tables,
sorts columns by name and rows by all columns, and compares values.
An oracle query whose output dir is absent, or lacks the _SUCCESS marker of a
committed write, is a MISSING failure: a query that failed in Verify must not
drop out of both counts.
"""
import sys, os, json, math, time
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize timestamp-ish columns to ns, strip tz; dates → datetime
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object and df[c].map(
                lambda v: v is None or str(type(v).__name__) == "date").all():
            df[c] = pd.to_datetime(df[c])
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def values_equal(a, b) -> bool:
    if a is None and b is None: return True
    try:
        if pd.isna(a) and pd.isna(b): return True
        if pd.isna(a) != pd.isna(b): return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    n_pass = n_fail = 0
    # per-query DuckDB seconds: lets the "within 2x per query" criterion be
    # audited from this run's committed artifact instead of a separate pass
    oracle_times = {}
    results = {}
    missing = sorted(k for k in oracle
                     if not os.path.exists(os.path.join(out_dir, k, "_SUCCESS")))
    for name in missing:
        print(f"{'MISSING':18s} {name}: no committed output")
        results[name] = {"status": "MISSING"}
    n_fail += len(missing)
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d) or name in missing:
            continue
        spark_df = pd.concat(
            [pd.read_parquet(os.path.join(d, f)) for f in os.listdir(d)
             if f.endswith(".parquet")], ignore_index=True) if any(
            f.endswith(".parquet") for f in os.listdir(d)) else pd.DataFrame()
        if name not in oracle:
            status = "ROWS-ONLY" if len(spark_df) > 0 else "ROWS-ONLY-EMPTY"
            print(f"{status:18s} {name} rows={len(spark_df)}")
            results[name] = {"status": status, "rows": len(spark_df)}
            continue
        try:
            t0 = time.monotonic()
            duck_df = con.execute(oracle[name]).df()
            oracle_times[name] = round(time.monotonic() - t0, 3)
        except Exception as e:
            print(f"{'ORACLE-ERR':18s} {name}: {e}")
            results[name] = {"status": "ORACLE-ERR", "err": str(e)}
            n_fail += 1
            continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"{'SCHEMA-MISMATCH':18s} {name}: spark={list(a.columns)} duck={list(b.columns)}")
            results[name] = {"status": "SCHEMA-MISMATCH"}
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"{'ROWCOUNT-MISMATCH':18s} {name}: spark={len(a)} duck={len(b)}")
            results[name] = {"status": "ROWCOUNT-MISMATCH"}
            n_fail += 1
            continue
        bad = None
        for c in a.columns:
            av, bv = a[c].tolist(), b[c].tolist()
            for i, (x, y) in enumerate(zip(av, bv)):
                if not values_equal(x, y):
                    bad = (c, i, x, y)
                    break
            if bad: break
        if bad:
            c, i, x, y = bad
            print(f"{'VALUE-MISMATCH':18s} {name}: col={c} row={i} spark={x!r} duck={y!r}")
            results[name] = {"status": "VALUE-MISMATCH", "col": c, "row": i}
            n_fail += 1
        else:
            print(f"{'PASS':18s} {name} rows={len(a)}")
            results[name] = {"status": "PASS", "rows": len(a)}
            n_pass += 1
    summary = {"pass": n_pass, "fail": n_fail, "missing": len(missing),
               "sf_dir": sf_dir,
               "oracle_times": oracle_times, "results": results}
    with open(os.path.join(out_dir, "oracle_check.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(f"\n{n_pass} pass, {n_fail} fail ({len(missing)} missing; "
          f"oracle total {sum(oracle_times.values()):.1f}s, "
          f"per-query times in {out_dir}/oracle_check.json)")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()

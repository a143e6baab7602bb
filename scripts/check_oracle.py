#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>

For each <verifyOutDir>/<name>/ parquet (written by graft.Verify),
runs <verifyOutDir>/oracle_sql.json[name] in DuckDB with the sf tables
registered as views, sorts columns by name, sorts rows, and compares
values. Exit 0 iff every query matches. A query with no output is
reported [MISS ] with the error graft.Verify recorded for it in
<verifyOutDir>/verify_status.json. A query whose reads take longer
than TIMEOUT_S seconds is interrupted and reported [TIMEOUT]; it
fails the run, and the queries after it still run.
"""
import json, sys, glob, os, hashlib, threading
import duckdb
import pyarrow.parquet as pq

# Seconds one query's two reads may take. The slowest sf0.01 oracle
# (dedup_dbscan) takes well under a fifth of it; at sf0.1 that one
# does not finish, and the limit keeps it from stalling the rest.
TIMEOUT_S = 900

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def strict_hash(df):
    """Driver-style hash: stringified values, rows sorted. The spark
    side must be read via PYARROW (not duckdb) for this to reproduce
    the driver: pyarrow turns DECIMAL columns into Decimal objects
    ('0.260000000') while duckdb→pandas gives float64 ('0.26'), so a
    decimal output column hash-mismatches despite equal values
    (round-11 lesson: events_lag_features / events_survival)."""
    df = df[sorted(df.columns)]
    rows = sorted("|".join(r) for r in df.astype(str).itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def timed(con, limit, body):
    """body(cursor) on a fresh cursor of con, interrupted after limit
    seconds (duckdb.InterruptException). A cursor per query keeps a
    late timer from interrupting the next query."""
    cur = con.cursor()
    timer = threading.Timer(limit, cur.interrupt)
    timer.start()
    try:
        return body(cur)
    finally:
        timer.cancel()
        cur.close()


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # {name: error} for the queries graft.Verify could not dump
    status_path = f"{out_dir}/verify_status.json"
    status = json.load(open(status_path)) if os.path.exists(status_path) else {}
    ok = True
    for name, sql in sorted(oracle.items()):
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            err = status.get(name)
            cause = f" ({err.splitlines()[0]})" if err else ""
            print(f"[MISS ] {name}: no spark output{cause}")
            ok = False
            continue
        try:
            got, want = timed(con, TIMEOUT_S, lambda cur: (
                canon(cur.execute(
                    f"SELECT * FROM read_parquet({spark_files!r})").df()),
                canon(cur.execute(sql).df())))
        except duckdb.InterruptException:
            print(f"[TIMEOUT] {name}: over {TIMEOUT_S} s")
            ok = False
            continue
        except Exception as e:
            print(f"[ERR  ] {name}: {e}")
            ok = False
            continue
        if list(got.columns) != list(want.columns):
            print(f"[COLS ] {name}: spark={list(got.columns)} oracle={list(want.columns)}")
            ok = False
        elif len(got) != len(want):
            print(f"[ROWS ] {name}: spark={len(got)} oracle={len(want)}")
            ok = False
        elif not got.equals(want):
            neq = (got != want) & ~(got.isna() & want.isna())
            bad = neq.any(axis=1)
            print(f"[DIFF ] {name}: {bad.sum()} differing rows, e.g.")
            print("  spark:", got[bad].head(3).to_dict("records"))
            print("  want :", want[bad].head(3).to_dict("records"))
            ok = False
        elif strict_hash(pq.read_table(spark_files).to_pandas()) != \
                strict_hash(want):
            print(f"[STRCT] {name}: values equal but driver-style hash "
                  "differs (decimal/repr divergence between pyarrow and "
                  "duckdb-pandas reads — emit doubles, not decimals)")
            ok = False
        else:
            print(f"[OK   ] {name}: {len(got)} rows")
    # queries with no oracle → rows-only check (must still be non-empty)
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name not in oracle:
            files = glob.glob(f"{d}/*.parquet")
            rows = 0
            if files:
                rows = con.execute(
                    f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]
            if rows == 0:
                print(f"[EMPTY] {name}: rows-only check FAILED (0 rows)")
                ok = False
            else:
                print(f"[NOSQL] {name}: rows-only check, {rows} rows")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])

#!/usr/bin/env python3
"""Local stand-in for the driver's CORRECTNESS gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify),
runs the matching oracle SQL from <verifyOutDir>/oracle_sql.json in
DuckDB against the same sfDir parquet tables, and compares:
row count, column names (sorted), and a value hash computed after
sorting columns by name and rows by all columns — mirroring the
driver's described compare as closely as we can.

Also writes <verifyOutDir>/digests.json: per query, the sha256 value
hash of the Spark output and of the DuckDB oracle result, so two
Verify runs (say, before and after a change) compare with one `diff`.
"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(v):
    if isinstance(v, float):
        return repr(v)  # full precision; bit-identical doubles match
    return str(v)

def table_digest(names, rows):
    import hashlib
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = ["\x1f".join(canon(r[i]) for i in order) for r in rows]
    lines.sort()
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode()); h.update(b"\n")
    return h.hexdigest()

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    digests = {}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        tbl = pq.read_table(files[0]) if files else None
        if tbl is None:
            results[name] = {"status": "NO_SPARK_OUTPUT"}
            continue
        spark_names = tbl.column_names
        spark_rows = [tuple(r[c] for c in spark_names) for r in tbl.to_pylist()]
        hs = table_digest(spark_names, spark_rows)
        digests[name] = {"spark": hs}
        if name not in oracle:
            results[name] = {"status": "ROWS_ONLY", "rows": len(spark_rows)}
            continue
        try:
            cur = con.execute(oracle[name])
            # Fetch through Arrow, like the driver: DuckDB renders
            # HUGEINT (e.g. a bare SUM(BIGINT)) as float64 in Arrow —
            # fetchall() would hide that class of oracle-type bug
            # (round-2 q_events_json_extract passed locally, failed on
            # the driver).
            duck_tbl = cur.fetch_arrow_table()
            duck_names = duck_tbl.column_names
            duck_rows = [tuple(r[c] for c in duck_names)
                         for r in duck_tbl.to_pylist()]
        except Exception as e:
            results[name] = {"status": "ORACLE_ERROR", "error": str(e)[:300]}
            continue
        hd = table_digest(duck_names, duck_rows)
        digests[name]["duck"] = hd
        r = {
            "rows_match": len(spark_rows) == len(duck_rows),
            "schema_match": sorted(spark_names) == sorted(duck_names),
            "spark_rows": len(spark_rows), "duck_rows": len(duck_rows),
        }
        r["hash_match"] = r["schema_match"] and hs == hd
        if not r["schema_match"]:
            r["spark_cols"] = sorted(spark_names)
            r["duck_cols"] = sorted(duck_names)
        r["status"] = "OK" if r["rows_match"] and r["schema_match"] and r["hash_match"] else "MISMATCH"
        results[name] = r
    with open(os.path.join(out_dir, "digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    n_ok = sum(1 for v in results.values() if v["status"] == "OK")
    for name, v in results.items():
        print(f"{v['status']:>14}  {name}  " +
              json.dumps({k: x for k, x in v.items() if k != 'status'})[:200])
    print(f"\n{n_ok}/{len(results)} OK")
    return 0 if n_ok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

#!/usr/bin/env python3
"""DuckDB oracle gate for the output of graft.Verify.

Usage:
    sbt -batch "runMain graft.Verify SF_DIR OUT_DIR"
    python3 tools/oracle_compare.py OUT_DIR SF_DIR [QUERY ...]

graft.Verify writes one parquet directory per query into OUT_DIR, plus
oracle_sql.json (query name -> DuckDB SQL) for the queries that have an
oracle. This script registers every SF_DIR/<table>.parquet as a DuckDB
view named <table>, runs each oracle SQL and compares its result with the
Spark output the way the correctness driver does: columns sorted by name,
rows sorted, every value rendered canonically (floats by repr, so only
bit-identical doubles match), then one md5 per side. A column that is an
integer on one side and a float on the other is flagged even when the
values agree, because the split changes the driver's hash (pandas dtype
kinds are compared, as the driver hashes pandas frames).

Exit status 0 means every entry (or every named QUERY) matched exactly.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq


def canon(v):
    """One value as a string that is equal iff the values are identical."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    return json.dumps(str(v), ensure_ascii=False)


def digest(table):
    """(sorted column names, row count, md5 of the sorted canonical rows)."""
    cols = sorted(table.column_names)
    data = table.select(cols).to_pylist()
    rows = sorted("\t".join(canon(r[c]) for c in cols) for r in data)
    return cols, len(rows), hashlib.md5("\n".join(rows).encode("utf-8")).hexdigest()


def compare(con, out_dir, name, sql):
    res = {"spark_rows": None, "oracle_rows": None, "rows_match": False,
           "schema_match": False, "hash_match": False, "dtype_splits": [], "err": None}
    try:
        spark = pq.read_table(os.path.join(out_dir, name))
        oracle = con.execute(sql).arrow()
    except Exception as e:  # a missing output or a failing oracle is a miss
        res["err"] = f"{type(e).__name__}: {e}"
        return res
    s_cols, s_rows, s_md5 = digest(spark)
    o_cols, o_rows, o_md5 = digest(oracle)
    res.update(spark_rows=s_rows, oracle_rows=o_rows, rows_match=s_rows == o_rows,
               schema_match=s_cols == o_cols, hash_match=s_md5 == o_md5)
    if s_cols == o_cols:
        # the driver hashes pandas frames, so compare pandas dtype kinds
        # (an int column with nulls turns float there, a HUGEINT sum too)
        s_kinds = spark.to_pandas().dtypes
        o_kinds = con.execute(sql).df().dtypes
        res["dtype_splits"] = [c for c in s_cols if s_kinds[c].kind != o_kinds[c].kind]
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir", help="graft.Verify output directory")
    ap.add_argument("sf_dir", help="directory of the input <table>.parquet files")
    ap.add_argument("queries", nargs="*", help="only these oracle entries")
    ap.add_argument("--threads", type=int, default=2, help="DuckDB threads")
    args = ap.parse_args()

    with open(os.path.join(args.out_dir, "oracle_sql.json"), encoding="utf-8") as f:
        oracles = json.load(f)
    names = args.queries or sorted(oracles)
    missing = [n for n in names if n not in oracles]
    if missing:
        sys.exit(f"no oracle SQL for: {', '.join(missing)}")

    con = duckdb.connect()
    con.execute(f"SET threads TO {args.threads}")
    for fn in sorted(os.listdir(args.sf_dir)):
        if fn.endswith(".parquet"):
            path = os.path.join(args.sf_dir, fn).replace("'", "''")
            con.execute(f"CREATE VIEW {fn[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{path}')")

    exact = 0
    for name in names:
        r = compare(con, args.out_dir, name, oracles[name])
        ok = r["rows_match"] and r["schema_match"] and r["hash_match"] and not r["dtype_splits"]
        exact += ok
        detail = r["err"] or (
            f"rows {r['spark_rows']}/{r['oracle_rows']} schema={r['schema_match']} "
            f"hash={r['hash_match']}"
            + (f" dtype split: {','.join(r['dtype_splits'])}" if r["dtype_splits"] else ""))
        print(f"{'ok  ' if ok else 'MISS'} {name:24s} {detail}")
    print(f"{exact}/{len(names)} oracle entries bit-exact")
    sys.exit(0 if exact == len(names) else 1)


if __name__ == "__main__":
    main()

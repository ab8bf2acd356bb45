#!/usr/bin/env python3
"""Order-free digests of lane outputs, and the DuckDB oracle behind them.

  oracle.py check   OUT_DIR DIGESTS.json LANE...
      Hash each lane's parquet output under OUT_DIR/<lane>/ and compare it
      with the committed digest. Prints one "<lane>\t<reason>" line per
      mismatch and nothing when every lane agrees.

  oracle.py refresh TABLES_DIR ORACLE_SQL.json DIGESTS.json [OUT_DIR]
      Run each lane's oracle SQL in DuckDB over the generated tables and
      write the digests. With OUT_DIR, also report lanes whose Spark output
      disagrees with DuckDB.

A digest is the md5 of the output's column names and its rows, each cell
in one canonical spelling (ints as digits, floats and decimals as the
shortest double repr, timestamps as naive UTC, lists element-wise), with
the rows sorted, so the engines' row order and decimal/double typing do
not matter but every value does.
"""
import datetime
import decimal
import glob
import hashlib
import json
import os
import sys

def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "nan" if f != f else repr(f + 0.0)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\t".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    h.update(("\t".join(columns[i] for i in order) + "\n").encode())
    for line in lines:
        h.update((line + "\n").encode())
    return h.hexdigest(), len(lines)


def spark_digest(out_dir, lane):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(out_dir, lane, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output for {lane}")
    tables = [pq.read_table(f) for f in files]
    columns = tables[0].column_names
    rows = [tuple(r[c] for c in columns) for t in tables for r in t.to_pylist()]
    return digest(columns, rows)


def duck_digest(con, sql):
    cur = con.execute(sql)
    columns = [d[0] for d in cur.description]
    return digest(columns, cur.fetchall())


def check(out_dir, digests_path, lanes):
    with open(digests_path) as f:
        want = json.load(f)["lanes"]
    for lane in lanes:
        try:
            got = list(spark_digest(out_dir, lane))
        except Exception as e:  # noqa: BLE001 - a lane that cannot be read is wrong
            print(f"{lane}\tunreadable output: {type(e).__name__}: {e}")
            continue
        if lane not in want:
            print(f"{lane}\tno committed oracle digest")
        elif got != want[lane]:
            print(f"{lane}\tdigest {got} != oracle {want[lane]}")


def refresh(tables_dir, sql_path, digests_path, out_dir=None):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for path in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    with open(sql_path) as f:
        sqls = json.load(f)
    lanes, bad = {}, []
    for lane in sorted(sqls):
        lanes[lane] = list(duck_digest(con, sqls[lane]))
        if out_dir is not None and list(spark_digest(out_dir, lane)) != lanes[lane]:
            bad.append(lane)
    with open(digests_path, "w") as f:
        json.dump({"duckdb": duckdb.__version__, "lanes": lanes}, f, indent=1, sort_keys=True)
        f.write("\n")
    for lane in bad:
        print(f"{lane}\tspark output disagrees with the oracle")


if __name__ == "__main__":
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "check":
        check(args[0], args[1], args[2:])
    elif cmd == "refresh":
        refresh(*args)
    else:
        sys.exit(f"unknown command {cmd}")

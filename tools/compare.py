#!/usr/bin/env python3
"""DuckDB oracle gate for the `graft.Verify` query dump.

Usage: python3 tools/compare.py <verify_out> <sfDir>

`graft.Verify <sfDir> <verify_out>` writes one parquet directory per query
plus `oracle_sql.json` (query name -> DuckDB SQL). This script registers
every `<sfDir>/*.parquet` table as a DuckDB view named after the file, runs
each oracle query, and compares its result with `<verify_out>/<name>` in the
canonical form of `perfbench/oracle.py` (columns sorted by name, rows
sorted, numbers as floats).

Exit status: 0 when every oracled query matches; 2 on a usage error; 1
otherwise, after printing the mismatching query names.
"""
import glob
import json
import os
import sys

sys.dont_write_bytecode = True  # leave no bytecode cache under perfbench/
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
import duckdb  # noqa: E402
from oracle import canonical, read_spark, same  # noqa: E402


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet(%s)"
                    % (name, json.dumps(files).replace('"', "'")))
    return con


def main(argv):
    if len(argv) != 3:
        print("usage: python3 tools/compare.py <verify_out> <sfDir>", file=sys.stderr)
        return 2
    verify_out, sf_dir = argv[1], argv[2]
    with open(os.path.join(verify_out, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = connect(sf_dir)
    bad, ties = [], []
    for name in sorted(sql):
        try:
            res = con.execute(sql[name])
            want_rows, want_cols = canonical([d[0] for d in res.description], res.fetchall())
            got_rows, got_cols = canonical(*read_spark(os.path.join(verify_out, name)))
            ok = got_cols == want_cols and same(name, got_cols, got_rows, want_rows, ties)
        except Exception as e:  # a missing output or failing SQL is a mismatch
            print("%s: %s" % (name, e), file=sys.stderr)
            ok = False
        if not ok:
            bad.append(name)
    con.close()
    print("%d/%d oracled queries match (%d rounding ties)"
          % (len(sql) - len(bad), len(sql), len(ties)))
    if bad:
        print("mismatch: " + " ".join(bad))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

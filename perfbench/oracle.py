"""Correctness check of the operator-suite outputs.

Oracled leaves are compared with DuckDB running `SparkEntry.oracleSql`
over the same seeded parquet. The leaves without an oracle (text_langid and
x_media_features) must hold one row per input row (per document, per media
row), are pinned by row count and md5 on the default seed, and on every
seed must give the same md5 in every run of one invocation (the harness runs
them once more, untimed, on a fresh copy of the inputs).

Canonical form: columns sorted by name, rows sorted, every number as a
float. One cross-engine difference is allowed: curate_filter's
quality_score is rounded to 4 places, and on an exact half-way value
Spark's round (HALF_UP on the decimal form) and DuckDB's (on the binary
double) differ by one unit in that place; such cells are counted
(`oracle_round_ties`). Any other difference fails.
"""
import glob
import hashlib
import json
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq

DEFAULT_SEED = 42
# [rows, md5] of each unoracled leaf on the default seed at full scale
PINS = {
    "text_langid": [3000, "b48748604c714f0d1b9bf02e82ae4496"],
    "x_media_features": [145, "4e1f85302287732d50a9b47ba2efcbd4"],
}


def _value(v):
    """Order key and comparable form of one cell."""
    if v is None:
        return (0, "")
    if isinstance(v, (bool, int, float)):
        return (1, float(v))
    if isinstance(v, (list, tuple)):
        return (3, tuple(_value(x) for x in v))
    if isinstance(v, dict):
        return (4, tuple(sorted((k, _value(x)) for k, x in v.items())))
    return (2, str(v))


def canonical(columns, rows):
    """Rows as tuples over name-sorted columns, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_value(r[i]) for i in order) for r in rows), sorted(columns)


def read_spark(path):
    t = pq.read_table(path)
    return t.column_names, [tuple(r.values()) for r in t.to_pylist()]


def digest(rows):
    return hashlib.md5(json.dumps(rows, separators=(",", ":")).encode()).hexdigest()


# (leaf, column) -> decimal places of the one value where the engines'
# round() may differ by one unit in the last place
ROUND_TIES = {("curate_filter", "quality_score"): 4}
# unoracled leaf -> (input table under the input dir, key column): the
# leaf's output holds exactly one row per input key
KEYED_BY = {
    "text_langid": ("documents.parquet", "doc_id"),
    "x_media_features": ("corpus/media.parquet", "media_ref"),
}


def _round_tie(x, y, places):
    """x and y both sit on the `places` grid, one unit apart."""
    sx, sy = x * 10 ** places, y * 10 ** places
    return (abs(sx - round(sx)) < 1e-6 and abs(sy - round(sy)) < 1e-6
            and abs(round(sx) - round(sy)) == 1)


def _close(a, b):
    """Cells equal (floats to a relative 1e-9)."""
    if a[0] != b[0]:
        return False
    if a[0] == 1:
        return a[1] == b[1] or math.isclose(a[1], b[1], rel_tol=1e-9, abs_tol=1e-12)
    if a[0] in (3, 4):
        return len(a[1]) == len(b[1]) and all(_close(x, y) for x, y in zip(a[1], b[1]))
    return a[1] == b[1]


def same(leaf, cols, got, want, ties):
    """Canonical rows equal, column by column; allowed rounding ties go to
    `ties`."""
    if len(got) != len(want):
        return False
    places = [ROUND_TIES.get((leaf, c)) for c in cols]
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for x, y, p in zip(g, w, places):
            if _close(x, y):
                continue
            if p is not None and x[0] == y[0] == 1 and _round_tie(x[1], y[1], p):
                ties.append((leaf, x[1], y[1]))
                continue
            return False
    return True


def input_keys(input_dir, leaf):
    table, key = KEYED_BY[leaf]
    return sorted(pq.read_table(os.path.join(input_dir, table), columns=[key])
                  .column(key).to_pylist())


def duck(input_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    for t in ("documents", "embeddings"):
        files = sorted(glob.glob(os.path.join(input_dir, t + ".parquet", "*.parquet")))
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet(%s)"
                    % (t, json.dumps(files).replace('"', "'")))
    return con


def check(input_dir, sql_path, outputs, seed, small, corrupt):
    """Returns (attempted, failed, rounding ties) over every leaf output of
    every pass."""
    with open(sql_path) as f:
        sql = json.load(f)
    con = duck(input_dir)
    by_leaf = {}
    for o in outputs:
        by_leaf.setdefault(o["leaf"], []).append(o)
    attempted = failed = 0
    ties = []
    for leaf in sorted(by_leaf):
        runs = sorted(by_leaf[leaf], key=lambda o: o["pass"])
        got = []
        for o in runs:
            cols, rows = read_spark(o["path"])
            if corrupt and not got and leaf == min(sql):
                # self-test: one output row goes wrong
                rows = rows[1:] + [tuple(None for _ in cols)] if rows else [tuple(cols)]
            got.append(canonical(cols, rows))
        bad = set()
        first_rows, first_cols = got[0]
        if leaf in sql:
            res = con.execute(sql[leaf])
            want_rows, want_cols = canonical([d[0] for d in res.description], res.fetchall())
            if want_cols != first_cols or not same(leaf, first_cols, first_rows, want_rows, ties):
                bad.add(0)
        else:
            key_col = KEYED_BY[leaf][1]
            if key_col not in first_cols or input_keys(input_dir, leaf) != sorted(
                    r[first_cols.index(key_col)][1] for r in first_rows):
                bad.add(0)
            pin = [len(first_rows), digest(first_rows)]
            print("[perfbench] %s rows=%d md5=%s" % (leaf, pin[0], pin[1]), file=sys.stderr)
            if seed == DEFAULT_SEED and not small and pin != PINS.get(leaf):
                bad.add(0)
            if len(got) < 2:
                print("[perfbench] %s: no second run to compare" % leaf, file=sys.stderr)
                bad.add(0)
        first = digest(first_rows)
        for i, (rows, _) in enumerate(got[1:], 1):
            if digest(rows) != first:
                bad.add(i)
        for i in sorted(bad):
            print("[perfbench] wrong output: %s pass %d" % (leaf, runs[i]["pass"]),
                  file=sys.stderr)
        attempted += len(runs)
        failed += len(bad)
    con.close()
    return attempted, failed, len(ties)


"""Check curation_jobs outputs against DuckDB running each query's oracle SQL.

The JVM reports, under "oracle", the corpus directory, the oracle SQL per
query and the parquet output of every timed query run. Each output must equal
its oracle answer as a multiset of rows; values compare the way the repo's
oracle checker compares them (floats exactly, everything else as text)."""
import decimal
import glob
import math
import os
import sys
import time

import duckdb
import pyarrow.parquet as pq


def _value_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (3, str(v))
    if isinstance(v, int):
        return (1, str(v))
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return (1, "nan")
        # integral floats compare equal to ints, as in the repo's checker
        return (1, str(int(f))) if f.is_integer() and abs(f) < 2 ** 53 else (1, repr(f))
    if isinstance(v, (list, tuple)):
        return (2, repr([_value_key(x) for x in v]))
    if hasattr(v, "tolist"):
        return _value_key(v.tolist())
    return (3, str(v))


def _rows(columns, data):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rows = [tuple(_value_key(r[i]) for i in order) for r in data]
    return [columns[i] for i in order], sorted(rows)


def _spark_rows(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    tables = [pq.read_table(f) for f in files]
    cols = tables[0].column_names
    data = [tuple(row[c] for c in cols) for t in tables for row in t.to_pylist()]
    return _rows(cols, data)


def check(res):
    """Update res (correct/failed/problems) with the oracle comparison."""
    o = res.pop("oracle")
    con = duckdb.connect()
    for f in glob.glob(os.path.join(o["dir"], "*.parquet")):
        stem = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {stem} AS SELECT * FROM read_parquet('{f}')")
    want = {}
    for q, sql in o["sql"].items():
        t0 = time.time()
        cur = con.execute(sql)
        want[q] = _rows([d[0] for d in cur.description], cur.fetchall())
        sys.stderr.write(f"oracle: {q} {len(want[q][1])} rows in {time.time() - t0:.2f} s\n")
    problems = res.setdefault("problems", [])
    for q, path in o["outputs"]:
        got = _spark_rows(path)
        problem = None
        if got is None:
            problem = f"{q}: no output"
        elif got[0] != want[q][0]:
            problem = f"{q}: columns {got[0]} != oracle {want[q][0]}"
        elif got[1] != want[q][1]:
            problem = f"{q}: {len(got[1])} rows differ from the oracle's {len(want[q][1])}"
        if problem:
            res["failed"] += 1
            if len(problems) < 20:
                problems.append(problem)
    res["correct"] = res["correct"] and not problems

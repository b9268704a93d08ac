"""Output checks for one benchmark run.

- Graded queries: the engine's result (parquet) against DuckDB running
  `SparkEntry.oracleSql` on the same parquet tables. Columns are sorted
  by name and rows by every column; row count, dtypes and values must
  all agree. A query without an oracle is a mismatch.
- Dialect queries: the rendered text, parsed back into rows, against
  DuckDB over the same CSVs, as multisets.

Each returns {name: reason} for every mismatch.
"""
import json
import os
import sys
from collections import Counter

import duckdb
import pyarrow.dataset as ds

# the repository's own oracle comparison (tools/selfcheck.py): its table
# list and its normalisation, so both checks apply one rule. No bytecode
# is written next to it: the benchmark writes only under perfbench/.
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from selfcheck import TABLES, norm  # noqa: E402


def _frame_diff(duck, spark):
    """The first disagreement selfcheck.py would report, or None."""
    d, s = norm(duck), norm(spark)
    if list(d.columns) != list(s.columns):
        return f"columns duck={list(d.columns)} engine={list(s.columns)}"
    if len(d) != len(s):
        return f"rows duck={len(d)} engine={len(s)}"
    for c in d.columns:
        dv, sv = d[c], s[c]
        if str(dv.dtype) != str(sv.dtype):
            return f"{c}: dtype {dv.dtype} vs {sv.dtype}"
        eq = (dv.isna() & sv.isna()) | (dv == sv)
        if not eq.all():
            i = (~eq).idxmax()
            return f"{c}: row {i} duck={dv[i]!r} engine={sv[i]!r} ({int((~eq).sum())} diffs)"
    return None


def oracle(data_dir, check_dir, names, oracle_sql):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for name in names:
        if name not in oracle_sql:
            bad[name] = "no DuckDB oracle in SparkEntry.oracleSql"
            continue
        try:
            duck = con.execute(oracle_sql[name]).fetchdf()
            spark = ds.dataset(f"{check_dir}/{name}").to_table().to_pandas()
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            bad[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        diff = _frame_diff(duck, spark)
        if diff:
            bad[name] = diff
    con.close()
    return bad


def _num(v):
    if v is None or v == "NULL":
        return None
    if isinstance(v, str):
        try:
            return int(v)
        except ValueError:
            v = float(v)
    if isinstance(v, float):
        return float("%.9g" % v)
    return int(v)


def dialect(catalog_dir, check_dir, schema):
    con = duckdb.connect()
    for table, cols in schema.items():
        types = ", ".join(f"'{c}': 'BIGINT'" for c in cols)
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_csv('{catalog_dir}/{table}.csv', "
                    f"header=false, quote='\"', columns={{{types}}})")
    bad = {}
    path = f"{check_dir}/dialect.jsonl"
    records = [json.loads(line) for line in open(path)] if os.path.exists(path) else []
    for rec in records:
        lines = rec["out"].split("\n")
        body = [] if lines[1:] == ["No Results Found"] else lines[1:]
        got = Counter(tuple(_num(v) for v in line.split(", ")) for line in body)
        try:
            duck = con.execute(rec["sql"].replace("==", "=")).fetchall()
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            bad[rec["name"]] = f"duckdb: {e}"[:300]
            continue
        want = Counter(tuple(_num(v) for v in row) for row in duck)
        if got != want:
            bad[rec["name"]] = (f"{sum(got.values())} rows vs duckdb {sum(want.values())}: "
                                f"{rec['sql']}")[:300]
    con.close()
    return bad, len(records)

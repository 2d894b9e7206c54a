"""Correctness checks of one run, outside its timed loop.

The result comparison follows the rules of `scripts/check.py`: columns are
matched by name, arrow type families must agree, rows are sorted, floats
must be bit-exact (a float drift is a failure), temporal values compare as
timestamps, everything else as text.
"""
import datetime
import decimal
import hashlib
import json
import math

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _family(t):
    t = str(t).lower()
    if t.startswith(("int", "uint")):
        return "int"
    if t.startswith(("halffloat", "float", "double")):
        return "float"
    if t.startswith("decimal"):
        return "decimal"
    if "string" in t or t.startswith(("utf8", "large_utf8")):
        return "string"
    if t.startswith(("timestamp", "date")):
        return "temporal"
    if t.startswith("bool"):
        return "bool"
    return t


def compare_result(con, result_dir, sql):
    """None when the Spark result under `result_dir` equals the oracle,
    else a one-line reason."""
    got_arrow = pq.read_table(result_dir)
    want_arrow = con.sql(sql).arrow()
    got = got_arrow.to_pandas()
    want = want_arrow.to_pandas()
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    gt = {f.name: _family(f.type) for f in got_arrow.schema}
    wt = {f.name: _family(f.type) for f in want_arrow.schema}
    bad = [(c, gt[c], wt.get(c)) for c in gt if wt.get(c) != gt[c]]
    if bad:
        return f"dtype {bad}"
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    if len(got.columns) == 0:
        return None
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    ws = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    for c in gs.columns:
        for i, (a, b) in enumerate(zip(gs[c], ws[c])):
            if isinstance(a, float) or isinstance(b, float):
                fa, fb = float(a), float(b)
                if not (math.isnan(fa) and math.isnan(fb)) and fa != fb:
                    return f"{c}[{i}] {fa!r} != {fb!r}"
            elif isinstance(a, (datetime.date, datetime.datetime)) or \
                    isinstance(b, (datetime.date, datetime.datetime)):
                if not (pd.isna(a) and pd.isna(b)) and pd.Timestamp(a) != pd.Timestamp(b):
                    return f"{c}[{i}] {a} != {b}"
            elif str(a) != str(b):
                return f"{c}[{i}] {a!r} != {b!r}"
    return None


def result_hash(result_dir):
    df = pq.read_table(result_dir).to_pandas()
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), key=lambda s: s.astype(str))
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def _canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (int, float, decimal.Decimal)):
        d = decimal.Decimal(str(v)).normalize()
        return format(d, "f") if d == d.to_integral() else str(d)
    return str(v)


def compare_rest_sample(con, duckdb_sql, response):
    """None when the rows of a REST `/sql` response equal DuckDB's answer to
    the same statement, else a one-line reason."""
    body = json.loads(response, parse_float=decimal.Decimal)
    rel = con.sql(duckdb_sql)
    cols = rel.columns
    want = sorted(tuple(_canon(v) for v in row) for row in rel.fetchall())
    got = sorted(tuple(_canon(r.get(c)) for c in cols) for r in body["rows"])
    if got != want:
        first = next((g, w) for g, w in zip(got + [None] * len(want), want + [None] * len(got))
                     if g != w)
        return f"{len(got)} rows vs {len(want)}; first difference {first}"
    return None


def check_run(record, data_dir):
    """Runs every check the JVM left for DuckDB; returns (attempted, failures)."""
    con = connect(data_dir)
    failures = []
    attempted = 0
    for entry in record.get("oracle_checks", []):
        attempted += 1
        try:
            if "oracle_sql" in entry:
                why = compare_result(con, entry["result"], entry["oracle_sql"])
                label = f"oracle {entry['name']}"
            elif "repeat" in entry:
                same = result_hash(entry["result"]) == result_hash(entry["repeat"])
                why = None if same else "result hash differs between warm-up and end of run"
                label = f"repeat {entry['name']}"
            elif "duckdb_sql" in entry:
                why = compare_rest_sample(con, entry["duckdb_sql"], entry["response"])
                label = f"rest sample {entry['template']}"
            else:
                why, label = "no check recorded", entry.get("name", "?")
        except Exception as e:  # a check that cannot run is a failed check
            why, label = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}", \
                entry.get("name", entry.get("template", "?"))
        if why:
            failures.append(f"{label}: {why}")
    return attempted, failures

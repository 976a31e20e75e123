#!/usr/bin/env python3
"""Record the pipeline workload's expected result digests.

Run from the root of a graft checkout, after a change that legitimately
changes a pipeline query's rows (or the generated tables):

    python3 perfbench/record.py

It runs one pipeline pass through run.py in record mode, which writes every
query's collected rows (parquet) and their order-sensitive digest under
.bench_build/record/. Each query that has DuckDB oracle SQL
(graft.SparkEntry.oracleSql) is then cross-checked against DuckDB over the
same generated tables: column names, row count and every value, after
sorting columns by name and rows by all columns. Only if every check holds
is perfbench/digests.txt rewritten.
"""
import glob
import hashlib
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canonical(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            s = df[c]
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if hasattr(v, "__len__")
                              and not isinstance(v, (str, bytes)) else v)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def value_hash(df):
    h = hashlib.sha256()
    for row in df.itertuples(index=False, name=None):
        h.update(repr(row).encode() + b"\n")
    return h.hexdigest()


def main():
    out = os.path.join(".bench_build", "record")
    subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pipeline",
                    "--seed", "0", "--seconds", "1", "--trace", "0", "--record", out],
                   check=True)
    with open(os.path.join("perfbench", "workloads.json")) as f:
        params = json.load(f)["workloads"]["pipeline"]["params"]
    rows = params["rows"]
    tag = "-".join(str(x) for x in [params["data_seed"]] + [rows[t] for t in (
        "customer", "supplier", "part", "orders", "documents", "embeddings", "events")])
    data = os.path.join(".bench_build", "data", f"pipeline-{tag}")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet/*.parquet'")
    failures, lines = 0, []
    for name in params["queries"]:
        with open(os.path.join(out, f"{name}.digest")) as f:
            lines.append(f.read())
        got = pd.read_parquet(os.path.join(out, name))
        if name not in oracle:
            print(f"NO ORACLE {name}: {len(got)} rows")
            failures += len(got) == 0
            continue
        exp = con.sql(oracle[name]).df()
        g, e = canonical(got), canonical(exp)
        same = (list(g.columns) == list(e.columns) and len(g) == len(e)
                and value_hash(g) == value_hash(e))
        print(f"{'OK  ' if same else 'FAIL'} {name}: {len(g)} rows vs DuckDB {len(e)}")
        failures += not same
    if failures:
        sys.exit(f"{failures} queries failed the cross-check; digests not written")
    with open(os.path.join("perfbench", "digests.txt"), "w") as f:
        f.write("".join(lines))
    print(f"wrote perfbench/digests.txt ({len(lines)} queries)")


if __name__ == "__main__":
    main()

"""Compares each entry's rows with DuckDB running the entry's oracle SQL over
the same parquet tables: row count, column names, and an md5 over the rows
with columns sorted by name, rows sorted, and floats rounded to 6 decimals
(the canonical form the engine's correctness gate uses). An entry without
an oracle must return at least one row."""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

from gen import TABLE_NAMES


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6) + 0.0  # + 0.0 turns -0.0 into 0.0
    return df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)


def digest(df):
    return hashlib.md5(df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()


def check_entries(tables_dir, out_dir, names):
    """``[(name, ok, detail)]`` for each entry whose rows the JVM wrote."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    checks = []
    for name in names:
        files = glob.glob(os.path.join(out_dir, "results", name, "*.parquet"))
        if not files:
            checks.append((name, False, "no rows written"))
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracles:
            checks.append((name, len(got) > 0, f"{len(got)} rows, no oracle"))
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            checks.append((name, False, f"oracle error: {e}"))
            continue
        g, w = canon(got), canon(want)
        ok = len(g) == len(w) and list(g.columns) == list(w.columns) and digest(g) == digest(w)
        checks.append((name, ok, f"{len(g)} vs {len(w)} rows" + ("" if ok else ", differs")))
    con.close()
    return checks

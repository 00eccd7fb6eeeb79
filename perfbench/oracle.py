"""DuckDB checks of the benchmark's outputs, outside the timed windows.

The comparison is the one `tools/check.py --exact` makes: columns sorted
by name, rows sorted, and every value equal bit for bit (the engine's money
sums are exact decimals, so there is no float tolerance).
"""
import json
import os

import duckdb
import pandas as pd

FIXTURES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def connect():
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    con.sql("SET memory_limit='2GB'")
    con.sql("SET TimeZone='UTC'")
    return con


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                pass
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(name, got, want):
    """None when equal, else a one-line reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"{name}: columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"{name}: rows {len(got)} vs {len(want)}"
    if len(got) == 0:
        return f"{name}: no rows"
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind != w.dtype.kind and "f" in {g.dtype.kind, w.dtype.kind}:
            return f"{name}.{c}: dtype {g.dtype} vs {w.dtype}"
        bad = ~((g.isna() & w.isna()) | (g == w))
        if bad.any():
            i = bad.idxmax()
            return f"{name}.{c}: row {i}: got={g[i]!r} want={w[i]!r} ({int(bad.sum())} diffs)"
    return None


def check_sweep(work, inputs):
    """Each query's warm-up output against its oracle SQL."""
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = connect()
    for t in FIXTURES:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    fails = []
    for name in sorted(oracle):
        try:
            got = pd.read_parquet(os.path.join(work, "outputs", name))
            err = compare(name, got, con.sql(oracle[name]).df())
        except Exception as e:  # an oracle or read error is a failed check
            err = f"{name}: {type(e).__name__}: {e}"[:400]
        if err:
            fails.append(err)
    return len(oracle), len(fails), fails


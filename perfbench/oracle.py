"""Correctness of ``trend_analytics``: each query result's hash against its
DuckDB oracle over the same fixture tables.

A result is canonicalised the way the engine's oracle gate compares
(columns sorted by name, rows sorted by every column, timestamps at
microseconds) and hashed together with each column's type family, so a
value-equal result of another type family fails as it does in the gate.
Queries without an oracle (the MLlib tail) are checked rows-only. The
oracle hashes depend only on the fixture and the SQL, so they are computed
once per checkout and cached.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort") \
        .reset_index(drop=True)


def frame_hash(df):
    df = canon(df)
    h = hashlib.sha256()
    for c in df.columns:
        kind = df[c].dtype.kind
        h.update(f"{c}:{'i' if kind == 'u' else kind}\x1e".encode())
        h.update("\x1f".join(df[c].astype(str)).encode())
        h.update(b"\x1d")
    return h.hexdigest()


def cached_hashes(work, fixture_dir, pool):
    """({query: oracle result hash, or None when it has no oracle},
    whether any hash had to be computed)."""
    path = os.path.join(work, f"oracle-{os.path.basename(fixture_dir)}.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    con = None
    out = {}
    for name, meta in sorted(pool.items()):
        sql = meta["oracle"]
        if sql is None:
            out[name] = None
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()
        hit = cache.get(name)
        if hit is None or hit["sql"] != key:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in TABLES:
                    p = os.path.join(fixture_dir, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS "
                                f"SELECT * FROM read_parquet('{p}')")
            hit = {"sql": key, "hash": frame_hash(con.execute(sql).df())}
            cache[name] = hit
        out[name] = hit["hash"]
    if con is not None:
        con.close()
        with open(path, "w") as f:
            json.dump(cache, f)
    return out, con is not None


def check_trend(res, oracles, plant=False):
    """Mark each op whose query result fails its check; record rows out."""
    results = res["results_dir"]
    bad, rows = {}, {}
    names = sorted(os.path.basename(d) for d in glob.glob(f"{results}/*")
                   if os.path.isdir(d))
    for i, name in enumerate(names):
        df = pd.read_parquet(os.path.join(results, name))
        if plant and i == 0:
            df = df.iloc[:-1] if len(df) > 1 else df.iloc[0:0]
        rows[name] = len(df)
        want = oracles.get(name)
        if want is None:
            if len(df) == 0:
                bad[name] = "empty result (rows-only check)"
        elif frame_hash(df) != want:
            bad[name] = "result hash differs from the DuckDB oracle"
    for name, err in res.get("result_errors", {}).items():
        bad[name] = f"re-run for the check failed: {err}"
    for op in res["ops"]:
        if op["ok"] and (op["name"] in bad or op["name"] not in rows):
            op["ok"] = False
            op["error"] = bad.get(op["name"], "no result to check")
    res["rows_out"] = rows
    res["check_notes"] = [f"{n}: {e}" for n, e in sorted(bad.items())]

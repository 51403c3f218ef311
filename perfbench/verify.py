"""Output checks of the benchmark.

`queries` compares each collected query result with DuckDB running the
query's oracle SQL on the same Parquet tables, in the canonical form of
`tools/local_verify.py`: columns sorted by name, rows sorted by value,
every cell rendered to a string, the rendered rows hashed.

`repos` compares what landed in the catalog per repo with git's own counts
on the clone the worker imported from, and checks that every arrival was
imported and every new repo exactly once.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _render(v):
    try:
        if v is None or pd.isna(v):
            return "\0NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def digest(df):
    """(columns, row count, sha256 of the rendered rows) of a result."""
    df = _canon(df)
    h = hashlib.sha256()
    for row in df.itertuples(index=False, name=None):
        h.update("\x1f".join(_render(v) for v in row).encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")
    return list(df.columns), len(df), h.hexdigest()


def queries(res, plan):
    """Returns (problems, names of queries whose answer is wrong)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{plan['sf_dir']}/{t}.parquet')")
    oracle = res["checks"]["oracle_sql"]
    problems, bad = [], []
    for name in res["checks"]["verified_queries"]:
        files = sorted(glob.glob(os.path.join(plan["verify"], name, "*.parquet")))
        try:
            got = digest(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            want = digest(con.execute(oracle[name]).fetchdf())
        except Exception as e:  # an answer that cannot be compared is wrong
            got, want = None, repr(e)[:200]
        if got != want:
            problems.append(f"{name}: answer differs from the oracle "
                            f"(rows {got and got[1]} vs {want[1] if isinstance(want, tuple) else want})")
            bad.append(name)
    missing = set(plan["queries"]) - set(res["checks"]["verified_queries"]) - \
        {o["name"] for o in res["ops"] if not o["ok"]}
    problems += [f"{n}: never ran" for n in sorted(missing)]
    return problems, bad


def repos(res, plan, work):
    """Returns (problems, names of repos whose import is wrong)."""
    checks, problems, bad = res["checks"], [], []
    landed = checks["landed"]
    cache_roots = glob.glob(os.path.join(work, "r*", "cache"))
    cache = max(cache_roots, key=lambda p: int(os.path.basename(os.path.dirname(p))[1:]))
    expect = sorted(set(plan["base"]) | {a["repo"] for a in plan["arrivals"]})
    problems += [f"base import: {e}" for e in checks["base_errors"]]
    problems += [f"{r}: arrival never imported" for r in checks["unsatisfied"]]
    imports = checks["imports_per_repo"]
    for r in sorted({a["repo"] for a in plan["arrivals"] if a["kind"] == "new"}):
        if imports.get(r, 0) != 1:
            problems.append(f"{r}: new repo imported {imports.get(r, 0)} times, not once")
            bad.append(r)
    lag, bound = checks["gen_lag_p90_ms"], checks["lag_bound_ms"]
    if lag is not None and lag > bound:
        problems.append(f"run invalid: generator p90 lag {lag:.1f} ms over the {bound} ms bound")
    for r in expect:
        clone = os.path.join(cache, r)
        if not os.path.isdir(clone):
            problems.append(f"{r}: never fetched")
            bad.append(r)
            continue
        want = gen.git_counts(clone)
        got = {t: landed.get(t, {}).get(r, 0) for t in want}
        if got != want:
            problems.append(f"{r}: landed {got}, git counts {want}")
            bad.append(r)
    return problems, bad

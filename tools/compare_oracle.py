#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate, in two modes.

Oracle mode: reads Verify output (outDir/<name>/ parquet +
outDir/oracle_sql.json), runs each oracle SQL in DuckDB over the same sf
tables, and compares (columns sorted by name, values stringified, rows
sorted). A declared oracle with no dump directory (its query crashed in
Verify) is reported as [MISSING] and counts as a failure.
    compare_oracle.py <sfDir> <outDir>

Two-dump mode: compares two Verify dumps (e.g. a parent commit against a
change) query by query with the same canonical form, so the rows-only
queries, which have no DuckDB oracle, are checked too.
    compare_oracle.py --dumps <outDirA> <outDirB>

Both exit 0 only when every compared query matches.
"""
import json, sys, glob, os
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def read_dump(outdir):
    """{query name: its rows} for every query directory of a Verify dump."""
    return {name: pd.concat([pd.read_parquet(f) for f in
                             sorted(glob.glob(f"{outdir}/{name}/*.parquet"))])
            for name in sorted(os.listdir(outdir))
            if os.path.isdir(os.path.join(outdir, name))}


def mismatch(name, got, want, labels):
    """None when the two frames are equal in canonical form, otherwise
    the report line(s) describing the first difference."""
    a, b = labels
    if sorted(got.columns) != sorted(want.columns):
        return f"[FAIL-cols] {name}: {a}={sorted(got.columns)} {b}={sorted(want.columns)}"
    g, w = canon(got), canon(want)
    if len(g) != len(w):
        return f"[FAIL-rows] {name}: {a}={len(g)} {b}={len(w)}"
    if not g.equals(w):
        diff = (g != w).any(axis=1)
        lines = [f"[FAIL-vals] {name}: {int(diff.sum())}/{len(g)} rows differ; first:"]
        for i in diff[diff].index[:3]:
            lines.append(f"    {a:6}: {g.loc[i].to_dict()}")
            lines.append(f"    {b:6}: {w.loc[i].to_dict()}")
        return "\n".join(lines)
    return None


def compare_dumps(dir_a, dir_b):
    da, db = read_dump(dir_a), read_dump(dir_b)
    ok = fail = 0
    for name in sorted(set(da) | set(db)):
        if name not in da or name not in db:
            print(f"[MISSING  ] {name}: only in {dir_a if name in da else dir_b}")
            fail += 1
            continue
        bad = mismatch(name, da[name], db[name], ("a", "b"))
        if bad:
            print(bad)
            fail += 1
        else:
            print(f"[EQUAL    ] {name}: {len(da[name])} rows")
            ok += 1
    print(f"\n{ok} equal, {fail} differ, {len(da)} vs {len(db)} queries dumped")
    return fail


def compare_oracle(sfdir, outdir):
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    dump = read_dump(outdir)
    ok = fail = 0
    for name in sorted(set(oracle) - set(dump)):
        print(f"[MISSING  ] {name}: oracle declared, no dump (query failed?)")
        fail += 1
    for name, got in dump.items():
        if name not in oracle:
            print(f"[rows-only] {name}: rows={len(got)}")
            continue
        try:
            want = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"[FAIL-sql ] {name}: oracle SQL error: {e}")
            fail += 1
            continue
        bad = mismatch(name, got, want, ("spark", "duckdb"))
        if bad:
            print(bad)
            fail += 1
        else:
            print(f"[OK       ] {name}: {len(got)} rows")
            ok += 1
    print(f"\n{ok} ok, {fail} fail, {len(oracle)} oracles declared")
    return fail


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--dumps":
        failed = compare_dumps(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 3:
        failed = compare_oracle(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
    sys.exit(1 if failed else 0)

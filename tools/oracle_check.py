#!/usr/bin/env python3
"""Dev-loop mimic of the driver's DuckDB correctness gate.

NOT part of the Spark library (driver-side python). Usage:
    sbt -batch "runMain graft.Verify <sfDir> <outDir>"
    python3 tools/oracle_check.py <sfDir> <outDir> [names]

Compares each <outDir>/<name>/ parquet (Spark result) against the
corresponding oracle SQL from <outDir>/oracle_sql.json executed in DuckDB
over the same tables: columns sorted by name, rows sorted by all columns,
values compared with exact equality (floats: repr equality after rounding
already applied in-query).

The optional comma-separated [names] arg restricts the run — used for the
sf0.1 sweep (docs/PROFILE_r12.md §7), where the BM25-family oracles
(q60/q61/q68/q77/q87) are DuckDB-side infeasible (the token-unnest ×
postings replay spills >40 GB at 5000 docs). DuckDB is pinned to an
absolute temp dir with a size cap: its DEFAULT temp_directory is `.tmp`
RELATIVE TO THE CWD, so an uncapped big-spill run fills the disk and
strands tens of GB inside whatever directory you ran from (r12 learned
this at 41 GB inside the repo).
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], out


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main(sf_dir, out_dir, names=None):
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/graft_duck_tmp'")
    con.execute("SET max_temp_directory_size='40GB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if names:
        keep = set(names.split(","))
        missing = keep - set(oracle)
        if missing:
            print(f"ERROR     unknown names: {sorted(missing)}")
            return 1
        oracle = {k: v for k, v in oracle.items() if k in keep}
    failures = 0
    for name, sql in sorted(oracle.items()):
        try:
            got_rel = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            got_cols = [d[0] for d in got_rel.description]
            got = got_rel.fetchall()
            exp_rel = con.execute(sql)
            exp_cols = [d[0] for d in exp_rel.description]
            exp = exp_rel.fetchall()
        except Exception as e:
            print(f"ERROR     {name}: {e}")
            failures += 1
            continue
        gc, gr = canon(got, got_cols)
        ec, er = canon(exp, exp_cols)
        if gc != ec:
            print(f"MISMATCH  {name}: columns spark={gc} duckdb={ec}")
            failures += 1
        elif gr != er:
            print(f"MISMATCH  {name}: rows spark={len(gr)} duckdb={len(er)}")
            diff = [i for i, (a, b) in enumerate(zip(gr, er)) if a != b][:3]
            for i in diff:
                print(f"  row {i} spark : {gr[i]}")
                print(f"  row {i} duckdb: {er[i]}")
            if len(gr) != len(er):
                only_g = set(gr) - set(er)
                only_e = set(er) - set(gr)
                for r in list(only_g)[:2]:
                    print(f"  only-spark : {r}")
                for r in list(only_e)[:2]:
                    print(f"  only-duckdb: {r}")
            failures += 1
        else:
            print(f"OK        {name}: {len(gr)} rows")
    # an output without an oracle is a failure: every query has one, so a
    # rows-only output means an oracle went missing (skipped when a name
    # filter is active — everything outside the filter is untested by
    # intent, not rows-only)
    import os
    for entry in [] if names else sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, entry)
        if os.path.isdir(path) and entry not in oracle:
            failures += 1
            try:
                n = con.execute(
                    f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
                print(f"ROWS-ONLY {entry}: {n} rows")
            except Exception as e:
                print(f"ERROR     {entry}: {e}")
    print(f"== {failures} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))

#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_oracle.py <outDir> <sfDir> [--parent <parentOutDir>]

Reads the parquet dumps written by `sbt "runMain graft.Verify <sfDir> <outDir>"`
plus outDir/oracle_sql.json, runs each oracle SQL in DuckDB against the same
parquet tables, and compares row count, schema (column names sorted), and a
hash of the values (columns sorted by name, rows sorted) — strict equality on
every cell, mirroring the driver's hash compare.

TYPE-STRICT (r9 judge finding): the old fetchdf()+str() compare erased the
exact divergence the driver scores — DuckDB promotes SUM(BIGINT) (aggregate
AND window) to HUGEINT while Spark stays BIGINT, values byte-identical, hash
red. This gate now also compares the DuckDB result types of the oracle SQL
against the Spark parquet column types, allowing ONLY integer width drift
within 64 bits (TINYINT/SMALLINT/INTEGER/BIGINT — 35 legitimately-green
entries differ that way); HUGEINT or DECIMAL vs anything is a FAIL even when
every cell compares equal.

--parent <parentOutDir>: when an entry's DuckDB replay itself raises (the
recall-curve replays exceed DuckDB's memory cap on 15 GB hosts), the entry
still FAILs, and its Spark output is also compared, by the same strict
rule, against the same entry in another Verify output directory (the
parent commit's), printing SAME-AS-PARENT or DIFF-FROM-PARENT. The exit
status does not change.
"""
import argparse, json, sys, os, glob
import duckdb

# All 64-bit-or-narrower integer widths are one equivalence class: the
# driver's hash is width-insensitive inside 64 bits but NOT beyond.
_INT64 = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
          "UTINYINT", "USMALLINT", "UINTEGER"}

def type_class(t):
    s = str(t).upper()
    return "INT64" if s in _INT64 else s

def col_types(rel):
    return {c: type_class(t) for c, t in zip(rel.columns, rel.types)}

def fetch(rel):
    """(column types, rows) of a DuckDB relation."""
    return col_types(rel), rel.fetchdf()

def parquet_rel(con, out_dir, name):
    """The relation over one entry's parquet dump, None when absent."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    return con.sql(f"SELECT * FROM read_parquet({files!r})") if files else None

def frame_diff(got, exp, other):
    """None when the fetched results hold the same columns, types and
    rows, else the first difference (`other` names the expected side)."""
    (gt, g), (et, e) = got, exp
    gc, ec = sorted(g.columns), sorted(e.columns)
    if gc != ec:
        return f"columns {gc} != {ec}"
    # type-strict compare: int width drift within 64 bits is the only
    # allowed divergence (HUGEINT/DECIMAL vs BIGINT hashes red driver-side)
    type_bad = [(c, gt[c], et[c]) for c in gc if gt[c] != et[c]]
    if type_bad:
        c, a, b = type_bad[0]
        return (f"type col {c}: spark={a} {other}={b}"
                + (f" (+{len(type_bad)-1} more)" if len(type_bad) > 1 else ""))
    g = g[gc].sort_values(gc).reset_index(drop=True)
    e = e[ec].sort_values(ec).reset_index(drop=True)
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    # strict per-cell equality (no tolerance — like a hash compare)
    for c in gc:
        for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if a != b and not (a is None and b is None) and str(a) != str(b):
                return f"col {c} row {i}: spark={a!r} {other}={b!r}"
    return None

def parent_verdict(con, parent_dir, name, got):
    rel = parquet_rel(con, parent_dir, name)
    if rel is None:
        return f"DIFF-FROM-PARENT {name}: no parent output at {parent_dir}/{name}"
    why = frame_diff(got, fetch(rel), "parent")
    if why:
        return f"DIFF-FROM-PARENT {name}: {why}"
    return f"SAME-AS-PARENT {name}: {len(got[1])} rows"

def main(out_dir, sf_dir, parent_dir=None):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        try:
            got_rel = parquet_rel(con, out_dir, name)
            if got_rel is None:
                print(f"FAIL {name}: no spark output at {out_dir}/{name}")
                n_fail += 1
                continue
            got = fetch(got_rel)
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        try:
            exp = fetch(con.sql(oracle[name]))
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            if parent_dir:
                print(parent_verdict(con, parent_dir, name, got))
            continue
        why = frame_diff(got, exp, "oracle")
        if why:
            print(f"FAIL {name}: {why}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(got[1])} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail of {len(oracle)}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Compare Verify outputs with the DuckDB oracle.")
    ap.add_argument("out_dir")
    ap.add_argument("sf_dir")
    ap.add_argument("--parent", metavar="parentOutDir",
                    help="for entries whose replay raises, compare the Spark "
                         "output with this Verify output directory")
    a = ap.parse_args()
    sys.exit(main(a.out_dir, a.sf_dir, a.parent))

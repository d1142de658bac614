#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query: the byte-identity check
of a refactor (scripts/compare.py checks one dump against the DuckDB
oracle; this checks two dumps of the same queries against each other).

    python3 scripts/dump_diff.py <dirA> <dirB> [subset]

Each dump holds one `<query>/` directory of parquet files per query (plus
oracle_sql.json, ignored here). For every query the script compares

  1. the schema: column names, types and order, as DuckDB reads them;
  2. the rows as a multiset: `A EXCEPT ALL B` and `B EXCEPT ALL A` must
     both be empty (EXCEPT ALL keeps duplicates, and matches NULL with
     NULL as DISTINCT FROM does).

A query dumped on one side only is a failure, unless `subset` is given:
then only the queries present in both dumps are compared (Verify was
given a name list). Exit status 1 on any difference.
"""
import os
import sys

import duckdb


def queries(d):
    return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}


def main():
    if len(sys.argv) not in (3, 4) or sys.argv[3:] not in ([], ["subset"]):
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    subset = len(sys.argv) == 4
    qa, qb = queries(a), queries(b)
    names = sorted(qa & qb if subset else qa | qb)
    con = duckdb.connect()
    fails = 0
    for q in names:
        if q not in qa or q not in qb:
            print(f"FAIL {q}: dumped only in {a if q in qa else b}")
            fails += 1
            continue
        src = {s: f"read_parquet('{os.path.join(d, q)}/*.parquet')" for s, d in (("a", a), ("b", b))}
        try:
            schema = {s: con.sql(f"DESCRIBE SELECT * FROM {t}").fetchall() for s, t in src.items()}
            if [c[:2] for c in schema["a"]] != [c[:2] for c in schema["b"]]:
                print(f"FAIL {q}: schema {schema['a']} vs {schema['b']}")
                fails += 1
                continue
            only = {s: con.sql(f"SELECT count(*) FROM (SELECT * FROM {src[s]} "
                               f"EXCEPT ALL SELECT * FROM {src[o]})").fetchone()[0]
                    for s, o in (("a", "b"), ("b", "a"))}
            n = con.sql(f"SELECT count(*) FROM {src['a']}").fetchone()[0]
        except Exception as e:  # unreadable dump: a failure, not a crash
            print(f"FAIL {q}: {str(e)[:250]}")
            fails += 1
            continue
        if only["a"] or only["b"]:
            print(f"FAIL {q}: {only['a']} rows only in A, {only['b']} rows only in B")
            fails += 1
        else:
            print(f"SAME {q}: {n} rows")
    print(f"\n{len(names)} queries, {fails} differ")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()

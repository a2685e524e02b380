#!/usr/bin/env python3
"""Compares generated source tables with a reference sf directory.

    python3 perfbench/compare_data.py <reference_dir> <generated_dir>

Prints, for each table, the figures the benchmark's operation costs depend
on, side by side: row counts and value quartiles, and for documents the
token-length quartiles, the vocabulary and distinct-bigram counts, the
near-duplicate share, and the LSH candidate pairs (d02) and dedup clusters
(d06) of the engine's own oracle SQL (`graft.SparkEntry.oracleSql`, given
as a JSON file of query -> SQL with --oracle-sql). NOTES.md records the
output for the scales the benchmark uses.
"""
import argparse
import json

import duckdb

FIGURES = {
    "orders": [
        ("rows", "SELECT count(*) FROM orders"),
        ("distinct custkeys", "SELECT count(DISTINCT o_custkey) FROM orders"),
        ("totalprice q1/q2/q3", "SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) FROM orders"),
        ("orderdate min/max", "SELECT [min(o_orderdate)::DATE, max(o_orderdate)::DATE] FROM orders"),
        ("statuses", "SELECT count(DISTINCT o_orderstatus) FROM orders"),
    ],
    "documents": [
        ("rows", "SELECT count(*) FROM documents"),
        ("tokens min/q1/q2/q3/max", "SELECT quantile_cont(len(string_split(text, ' ')), "
                                    "[0, 0.25, 0.5, 0.75, 1]) FROM documents"),
        ("vocabulary", "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w "
                       "FROM documents)"),
        ("distinct bigrams", "SELECT count(DISTINCT bg) FROM (SELECT unnest(list_transform("
                             "range(len(s) - 1), i -> s[i + 1] || ' ' || s[i + 2])) bg FROM "
                             "(SELECT string_split(text, ' ') s FROM documents))"),
        ("near-duplicate share", "SELECT round(avg(CAST(text LIKE '% dup' AS INT)), 4) FROM documents"),
        ("'en' share", "SELECT round(avg(CAST(lang = 'en' AS INT)), 4) FROM documents"),
    ],
}


def figures(d, oracle):
    con = duckdb.connect()
    out = {}
    for t, qs in FIGURES.items():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        for name, sql in qs:
            out[f"{t}: {name}"] = con.sql(sql).fetchone()[0]
    if oracle:
        out["d02 candidate pairs"] = con.sql(
            f"SELECT count(*) FROM ({oracle['d02_minhash_lsh_pairs']})").fetchone()[0]
        out["d06 clusters (size > 1)"] = con.sql(
            f"SELECT count(*) FROM (SELECT cluster_id FROM ({oracle['d06_dedup_clusters']}) "
            "GROUP BY cluster_id HAVING count(*) > 1)").fetchone()[0]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("reference")
    ap.add_argument("generated")
    ap.add_argument("--oracle-sql", help="JSON file: query name -> DuckDB SQL")
    a = ap.parse_args()
    oracle = json.load(open(a.oracle_sql)) if a.oracle_sql else None
    ref, gen = figures(a.reference, oracle), figures(a.generated, oracle)
    print(f"| figure | reference | generated |\n|---|---|---|")
    for k in ref:
        print(f"| {k} | {ref[k]} | {gen[k]} |")


if __name__ == "__main__":
    main()

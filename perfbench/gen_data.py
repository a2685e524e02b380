#!/usr/bin/env python3
"""Source tables for the benchmark: orders (write_mix) and documents
(operator_suite).

Writes one parquet file per table with the columns, types and value
distributions of the sf tables the engine is tested on (NOTES.md records
the comparison). Values are pure functions of (generator seed, row number),
so the output is identical on every machine and independent of DuckDB's
thread count.

Usage: python3 gen_data.py <out_dir> <scale_factor> [generator_seed]
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

# The sf documents draw every token uniformly from these 30 words.
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def counts(sf):
    n = lambda base, lo: max(lo, int(round(base * sf)))
    return {"customer": n(150_000, 150), "orders": n(1_500_000, 1500),
            "documents": n(50_000, 500)}


def h(seed, salt, expr):
    """64-bit hash of (seed, salt, expr) for expr < 2^40 — thread-order free.
    One integer argument: DuckDB's multi-argument hash mixes too weakly for
    independent draws."""
    return f"hash(CAST({seed * 64 + salt} AS BIGINT) * 1099511627776 + ({expr}))"


def u(seed, salt, expr="i"):
    """Uniform double in [0, 1) from (seed, salt, row)."""
    return f"({h(seed, salt, expr)} % 1000000007) / 1000000007.0"


def tables(seed, c):
    v = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    n_docs = c["documents"]
    return {
        "orders": f"""SELECT i o_orderkey,
            CAST(floor({u(seed, 11)} * {c['customer']}) AS BIGINT) o_custkey,
            ['O','P','F'][1 + CAST(floor({u(seed, 12)} * 3) AS INTEGER)] o_orderstatus,
            round(1000 + {u(seed, 13)} * 499000, 2) o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST(floor({u(seed, 14)} * 2405) AS INTEGER)) o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][
              1 + CAST(floor({u(seed, 15)} * 5) AS INTEGER)] o_orderpriority
            FROM range({c['orders']}) t(i)""",
        # 10-99 tokens, each drawn uniformly from VOCAB; exactly 5% of the
        # documents are near-duplicates (another document's text plus a
        # " dup" token), so the MinHash/LSH dedup operators find real
        # candidate pairs.
        "documents": f"""WITH base AS (
              SELECT i, array_to_string(list_transform(
                  range(CAST(10 + floor({u(seed, 32)} * 90) AS INTEGER)),
                  j -> {v}[1 + CAST({h(seed, 33, 'i * 128 + j')} % 30 AS INTEGER)]), ' ') AS txt,
                row_number() OVER (ORDER BY {h(seed, 36, 'i')}) <= {n_docs // 20} AS is_dup
              FROM range({n_docs}) t(i)),
            doc AS (
              SELECT b.i, CASE WHEN b.is_dup THEN s.txt || ' dup' ELSE b.txt END AS text
              FROM base b JOIN base s
                ON s.i = CAST(floor({u(seed, 37, 'b.i')} * {n_docs}) AS BIGINT))
            SELECT i AS doc_id, text,
              CASE WHEN {u(seed, 34)} < 0.41 THEN 'en'
                   ELSE ['de','es','fr','zh'][1 + CAST(floor({u(seed, 35)} * 4) AS INTEGER)]
              END AS lang,
              'src' || (i % 20) AS source,
              CAST(length(text) AS BIGINT) AS n_chars
            FROM doc ORDER BY i""",
    }


def main(out_dir, sf, seed=42, names=None):
    """Writes the named tables (all of them by default) to out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    c = counts(sf)
    for name, sql in tables(seed, c).items():
        if names is not None and name not in names:
            continue
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(con.sql(sql).arrow(), tmp, row_group_size=1 << 30)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    main(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)

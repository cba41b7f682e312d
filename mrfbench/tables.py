#!/usr/bin/env python3
"""Seeded tables for the catalog workload.

Writes the parquet tables its queries read (lineitem, part, documents)
into one directory, with the column names and types
`graft.queries.Tables` expects. Row counts follow the scale factor `sf`
(lineitem = 6M x sf rows); the same seed and sf give the same tables.

Shapes the queries depend on: documents are 10-100 words from a small
vocabulary, 5% of them a copy of another document with " dup" appended
(near duplicates) and 0.2% an exact copy (exact duplicates); every part
key lineitem holds exists in part; lineitem's order keys repeat, about
four lines to an order.

Usage: python3 mrfbench/tables.py OUT_DIR --sf 0.02 --seed 1
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join filter big group "
         "hash customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
US_PER_DAY = 86_400_000_000


def cents(rng, lo, hi, n):
    """Uniform amounts in [lo, hi] with two decimals, as exact as a double allows."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def days(rng, first, last, n):
    """Midnight timestamps, uniform over the days first..last (ISO dates)."""
    a = np.datetime64(first, "D").astype(np.int64)
    b = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(a, b + 1, n) * US_PER_DAY, pa.timestamp("us"))


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)].tolist(), pa.string())


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, n):
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101))) for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[(i + rng.integers(1, n)) % n] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[(i + rng.integers(1, n)) % n]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def generate(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp, n_part, n_ord = max(10, int(10_000 * sf)), int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_doc = int(6_000_000 * sf), max(500, int(50_000 * sf))

    keys = np.arange(n_part)
    write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array((9000 + keys % 1000) / 10.0, pa.float64())})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(cents(rng, 900, 105_000, n_line), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", n_line)})
    write(out, "documents", documents(rng, n_doc))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    generate(args.out, args.sf, args.seed)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Compares gen.py's tables with a directory of reference tables.

Usage (from the repository root):
  python3 perfbench/compare_inputs.py <reference dir> <sf> [--seed N]

Generates the ten tables at <sf> into .bench_build/compare/, then prints,
table by table and column by column, the reference's and the generated
profile side by side: parquet type (timestamp unit included), row count,
distinct values, min, max, mean and standard deviation (strings: length),
plus the shapes the text and vector kernels depend on: language shares,
near-duplicate share, words per document, characters outside ASCII,
vector norms and same-label cosine.
"""
import argparse
import os
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402


def parquet_types(path):
    """Column -> physical and logical parquet type (timestamp unit and
    UTC adjustment included)."""
    s = pq.read_metadata(path).schema
    return {s.column(i).path: f"{s.column(i).physical_type} {s.column(i).logical_type}"
            for i in range(len(s))}


def column_profiles(con, path):
    rel = con.sql(f"SELECT * FROM read_parquet('{path}')")
    out = {}
    for c, ty in zip(rel.columns, map(str, rel.types)):
        if ty.endswith("[]"):
            out[c] = con.sql(f"SELECT min(len({c})), max(len({c})) FROM rel").fetchone()
        elif ty == "VARCHAR":
            out[c] = con.sql(f"SELECT count(DISTINCT {c}), min(length({c})), "
                             f"round(avg(length({c})), 1), max(length({c})) FROM rel").fetchone()
        elif ty in ("BIGINT", "INTEGER", "DOUBLE"):
            out[c] = con.sql(f"SELECT count(DISTINCT {c}), min({c}), max({c}), "
                             f"round(avg({c}), 3), round(stddev({c}), 3) FROM rel").fetchone()
        else:
            out[c] = con.sql(f"SELECT count(DISTINCT {c}), min({c}), max({c}) FROM rel").fetchone()
    return out


def shapes(con, d):
    docs = f"read_parquet('{d}/documents.parquet')"
    n = con.sql(f"SELECT count(*) FROM {docs}").fetchone()[0]
    langs = con.sql(f"SELECT lang, round(count(*) / {n}, 3) FROM {docs} "
                    "GROUP BY 1 ORDER BY 1").fetchall()
    dup, words, non_ascii = con.sql(
        f"SELECT round(avg((text LIKE '% dup')::INT), 3), "
        f"round(avg(len(string_split(text, ' '))), 1), "
        f"sum(regexp_matches(text, '[^ -~]')::INT) FROM {docs}").fetchone()
    emb = con.sql(f"SELECT embedding, label FROM read_parquet('{d}/embeddings.parquet')").fetchall()
    v = np.array([e[0] for e in emb])
    lab = np.array([e[1] for e in emb])
    cos = v @ v.T
    same = (lab[:, None] == lab[None, :]) & ~np.eye(len(v), dtype=bool)
    norms = np.linalg.norm(v, axis=1)
    return {"documents.lang": langs, "documents.near_dup_share": dup,
            "documents.words_per_doc": words, "documents.non_ascii_docs": non_ascii,
            "embeddings.norm": (round(float(norms.min()), 4), round(float(norms.max()), 4)),
            "embeddings.cos_same_label": round(float(cos[same].mean()), 4),
            "embeddings.cos_other_label": round(float(cos[~same].mean()), 4)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("reference")
    ap.add_argument("sf", type=float)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    out = os.path.join(os.path.dirname(HERE), ".bench_build", "compare",
                       f"sf{a.sf}-seed{a.seed}")
    gen.generate(out, a.sf, a.seed)
    con = duckdb.connect()
    for t in gen.TABLES:
        ref, got = (os.path.join(d, f"{t}.parquet") for d in (a.reference, out))
        rs, gs = parquet_types(ref), parquet_types(got)
        print(f"== {t}: rows {pq.read_metadata(ref).num_rows} vs {pq.read_metadata(got).num_rows}")
        rp, gp = column_profiles(con, ref), column_profiles(con, got)
        for c in rs:
            same = "same" if rs[c] == gs.get(c) else f"DIFFERS: {gs.get(c, 'missing')}"
            print(f"  type {c}: {rs[c]} ({same})")
        for c in rp:
            print(f"  {c}\n    reference {rp[c]}\n    generated {gp.get(c)}")
    rsh, gsh = shapes(con, a.reference), shapes(con, out)
    for k in rsh:
        print(f"== {k}\n    reference {rsh[k]}\n    generated {gsh[k]}")


if __name__ == "__main__":
    main()

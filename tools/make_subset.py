#!/usr/bin/env python3
"""Deterministic reduced-oracle corpus for the banded dedup tier
(r14 verdict directive #5).

The banded d_* / g_modularity / d_semantic_dup
DuckDB oracles are >hours at the sf10 corpus (500k docs / 200k
embeddings): oracle cost is pair-volume-linear and ScaleGen grows pairs
linearly with the factor, so a 100x corpus is a 100x oracle. This tool
derives a SEEDED, DOCUMENTED subsample of the big corpus on the two
pair-generating tables — `doc_id % mod == 0` on documents, `vec_id %
mod == 0` on embeddings — and copies every other table unchanged.
Because ScaleGen offsets ids contiguously per copy, the modulus samples
uniformly WITHIN every one of the 100 copies, so the subset carries the
big corpus's actual values (salted vocabulary, sign-patterned vectors)
while the oracle pays only subset-pair cost. Running graft.Verify +
check_oracle.py on the output dir is then full cross-engine hash
evidence on that deterministic slice of the 100x corpus — the
"reduced-oracle mode" disposition recorded per query in the BUILDLOG.

Usage: python3 tools/make_subset.py <src_dir> <out_dir> [mod=10]
"""
import glob, os, shutil, sys

import duckdb


def main():
    src, out = sys.argv[1], sys.argv[2]
    mod = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    filtered = {"documents": "doc_id", "embeddings": "vec_id"}
    for p in sorted(glob.glob(f"{src}/*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        src_sql = f"{p}/*.parquet" if os.path.isdir(p) else p
        dst = f"{out}/{name}.parquet"
        if name in filtered:
            key = filtered[name]
            con.sql(f"COPY (SELECT * FROM '{src_sql}' WHERE {key} % {mod} = 0"
                    f" ORDER BY {key}) TO '{dst}' (FORMAT PARQUET)")
            n = con.sql(f"SELECT count(*) FROM '{dst}'").fetchone()[0]
            print(f"{name}: filtered {key} % {mod} == 0 -> {n} rows")
        else:
            if os.path.isdir(p):
                shutil.copytree(p, dst, dirs_exist_ok=True)
            else:
                shutil.copyfile(p, dst)
            print(f"{name}: copied")
    print(f"subset corpus at {out} (mod={mod})")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Compute the curated-set oracle the `corpus` workload checks against.

Usage (from the root of the checkout): python3 perfbench/oracle.py

Runs the engine's DuckDB oracle SQL for `curation_pipeline` over
perfbench/data/<sf>/documents.parquet with the installed duckdb and writes
the row count and the SHA-256 of the sorted `doc_id,quality_bp,split`
lines to perfbench/data/curation_oracle.json. The data never changes, so
this runs once; the file is committed with the benchmark.
"""
import hashlib
import json
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SIZES = ["sf0.1", "sf0.001"]


def curated_sha256(rows):
    text = "\n".join(f"{d},{q},{s}" for d, q, s in sorted(rows))
    return hashlib.sha256(text.encode()).hexdigest()


def main():
    run.build()
    sql = subprocess.run(run.java("graft.perfbench.OracleSql"), check=True,
                         capture_output=True, text=True).stdout
    out = {}
    for sf in SIZES:
        docs = os.path.join(run.HERE, "data", sf, "documents.parquet")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs}')")
        rows = con.execute(
            f"SELECT doc_id, quality_bp, split FROM ({sql})").fetchall()
        out[sf] = {"rows": len(rows), "sha256": curated_sha256(rows)}
        print(f"{sf}: {len(rows)} rows, sha256 {out[sf]['sha256']}")
    path = os.path.join(run.HERE, "data", "curation_oracle.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=2, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()

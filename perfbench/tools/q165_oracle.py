#!/usr/bin/env python3
"""Recompute q165's expected counts for one seed of the batch-funnel corpus.

    python3 perfbench/tools/q165_oracle.py [--seed 1]

Run from the root of a checkout. Builds the benchmark like run.py, writes
the seed's corpus and q165's oracle SQL with perfbench.FunnelCorpus, runs
that SQL in DuckDB and stores the seven counts in
perfbench/data/q165_oracle_seed<N>.json, which the batch-funnel workload
compares q165's row against whenever it runs that seed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402  (perfbench/run.py: the build and JVM flags)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    cp = run.build()
    out = os.path.join(run.BUILD, "work", f"q165-oracle-{args.seed}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    subprocess.run(
        ["java", "-Xmx2g"]
        + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        + ["-cp", cp, "perfbench.FunnelCorpus", "--seed", str(args.seed),
           "--data", os.path.join(run.HERE, "data"), "--out", out],
        check=True, stdin=subprocess.DEVNULL)
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{out}/documents.parquet/*.parquet')")
    with open(os.path.join(out, "q165.sql")) as fh:
        rel = con.sql(fh.read())
    row = dict(zip(rel.columns, rel.fetchone()))
    row = {k: int(v) for k, v in row.items()}
    dest = os.path.join(run.HERE, "data", f"q165_oracle_seed{args.seed}.json")
    with open(dest, "w") as fh:
        json.dump(dict(seed=args.seed, **row), fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(out, ignore_errors=True)
    print(f"{dest}: {row}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Regenerate perfbench/expected.tsv: the row count of every workload query
on the benchmark's data, plus its content hash where the output is
deterministic. Each query runs once in each of three JVMs, every JVM with
its own query order; row counts must agree, and a hash is kept only when
all three agree.

    python3 perfbench/expect.py [--dump DIR]

--dump DIR additionally writes each query's result as parquet plus
oracle_sql.json, the layout tools/compare.py reads, for a one-off
cross-check against the DuckDB oracle.
"""
import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import run  # noqa: E402

SEEDS = (1, 2, 3)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dump")
    args = ap.parse_args()
    queries = sorted({q for qs in run.load_workloads().values() for q in qs})
    results = []
    for seed in SEEDS:
        plan = run.base_plan("expect", queries, {}, [benchlib.permutation(queries, seed, 0)])
        if args.dump and seed == SEEDS[-1]:
            plan.append(("dump_dir", os.path.abspath(args.dump)))
        results.append(run.harness(plan)["expect"])
    lines = ["# query\trows\tcontent hash (- = not deterministic across orders)"]
    bad = []
    for q in queries:
        got = [r[q] for r in results]
        errors = [g["error"] for g in got if "error" in g]
        rows = {g.get("rows") for g in got}
        if errors or len(rows) != 1:
            bad.append(f"{q}: {errors or sorted(rows)}")
            continue
        hashes = {g["hash"] for g in got}
        lines.append(f"{q}\t{rows.pop()}\t{hashes.pop() if len(hashes) == 1 else '-'}")
    if bad:
        raise SystemExit("perfbench: queries unfit for the benchmark:\n  " + "\n  ".join(bad))
    with open(os.path.join(HERE, "expected.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Choose the workloads' queries from measurements and write workloads.json.

    python3 perfbench/choose.py --measure BENCH_LOCAL_r22_run1.json
    python3 perfbench/choose.py BENCH_LOCAL_r22_run1.json BENCH_LOCAL_r22_run2.json

--measure times every query the record names on the benchmark's data in one JVM
(one untimed and two timed passes) and writes baseline/catalog_sf0.01.json:
each query's module and its cold and warm wall time. It takes about ten
minutes on 4 cores.

Without --measure, it reads that catalog and the given per-query Bench
records (the sf0.1 `graft.Bench` output with `queries` and `cpu_s`), picks
each family's queries with benchlib.select under its budget below,
and rewrites workloads.json with the queries and the share of their
families' sf0.1 wall and CPU time they carry.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import run  # noqa: E402

CATALOG = os.path.join(HERE, "baseline", "catalog_sf0.01.json")

# the four query families of the Bench scope, by module
FAMILIES = {
    "etl_batch": ["ReferenceOps", "Relational", "EventOps", "ProfileOps"],
    "llm_curation": ["DedupOps", "LshOps", "CorpusOps", "Curation", "VectorOps",
                     "TextOps", "Multimodal"],
    "lakehouse_rw": ["StorageOps"],
    "stream_microbatch": ["StreamShapes"],
}
# a BenchOnly variant belongs to the family of the module it benchmarks
BENCH_ONLY_OF = {
    "bench_approx_distinct_sketch": "Relational",
    "bench_approx_percentile_sketch": "Relational",
    "bench_pq_search_only": "VectorOps",
}
# families are chosen in this order; a module (BenchOnly) already measured
# by an earlier family gets no query of its own in a later one
WORKLOADS = {
    "etl_lakehouse_stream": {
        "families": ["etl_batch", "lakehouse_rw", "stream_microbatch"],
        "why": "the Trading 212 ETL flagship, TPC-H, event and profiling "
               "shapes, the graftlog write path beside pruned scans, and "
               "micro-batch streams with checkpoints",
    },
    "llm_curation": {
        "families": ["llm_curation"],
        "why": "CPU-bound LLM data curation: MinHash clustering and LSH, the "
               "curation pipeline, embedding top-k, corpus, text and "
               "multimodal operators",
    },
}
# A query's cost is its catalog cold_s + warm_s. A run takes about 6 s
# plus three times its queries' cost on 4 cores: in a fresh JVM the cold
# pass costs about three times the catalog's cold_s, and each of the two
# timed passes about 1.5 times warm_s. Budgets of about 15 per workload
# keep a run between 45 and 65 s; a workload of few queries needs a third
# timed pass for its percentile samples. Every module gets a query even
# past its family's budget.
FAMILY_BUDGET = {"etl_batch": 7.0, "lakehouse_rw": 5.0, "stream_microbatch": 4.0,
                 "llm_curation": 15.0}
# queries chosen first: the paper's own pipeline, and those a check of the
# benchmark names
REQUIRED = {
    "ref_flagship": "the paper's Trading 212 ETL pipeline, the ROADMAP headline",
    "call_dsv2_expire": "noop_suspects must report its no-op expiry",
    "join_dsv2_partitioned": "conf_leaks must report its bucketing leak",
    "dedup_minhash_clusters": "carries graft.Bench's pre-run cluster-cache reset",
}


def measure(names):
    """Time every query in one JVM: {query: {module, cold_s, warm_s}},
    plus the cause of its first failure, if any."""
    orders = [benchlib.permutation(names, 5, i) for i in range(3)]
    raw = run.harness(run.base_plan("run", names, {}, orders,
                                    min_execs=2 * len(names), deadline_s=1800),
                      timeout_s=2400)
    out = {}
    for e in raw["execs"]:
        c = out.setdefault(e["query"], {"module": e["module"], "warm": []})
        if e["error"]:
            c.setdefault("unfit", e["error"])
        if e["timed"]:
            c["warm"].append(benchlib.exec_wall(e))
        else:
            c["cold_s"] = round(benchlib.exec_wall(e), 3)
    for c in out.values():
        c["warm_s"] = round(statistics.median(c.pop("warm")), 3)
    return dict(sorted(out.items()))


def family_of(query, module):
    target = BENCH_ONLY_OF.get(query, module)
    return next(f for f, mods in FAMILIES.items() if target in mods)


def choose(catalog, records):
    """{workload: (queries, coverage)} from the catalog and Bench records."""
    wall = {q: statistics.mean(r["queries"][q] for r in records) for q in catalog}
    cpu = {q: statistics.mean(min(r["cpu_s"][q]) for r in records) for q in catalog}
    fam = {q: family_of(q, c["module"]) for q, c in catalog.items()}
    tot = {}
    for q, f in fam.items():
        t = tot.setdefault(f, [0.0, 0.0])
        t[0] += wall[q]
        t[1] += cpu[q]
    weight = {q: (wall[q] / tot[fam[q]][0] + cpu[q] / tot[fam[q]][1]) / 2 for q in catalog}
    out, covered = {}, set()
    for w, spec in WORKLOADS.items():
        chosen = []
        for f in spec["families"]:
            cands = {q: (c["module"], c["cold_s"] + c["warm_s"]) for q, c in catalog.items()
                     if fam[q] == f and not c.get("unfit")}
            picked = benchlib.select(cands, weight, FAMILY_BUDGET[f],
                                     [q for q in REQUIRED if q in cands], covered)
            covered.update(cands[q][0] for q in picked)
            chosen += picked
        cov = {f: {"wall_share": round(sum(wall[q] for q in chosen if fam[q] == f) / tot[f][0], 3),
                   "cpu_share": round(sum(cpu[q] for q in chosen if fam[q] == f) / tot[f][1], 3)}
               for f in spec["families"]}
        out[w] = (chosen, cov)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--measure", action="store_true")
    ap.add_argument("records", nargs="+", help="graft.Bench per-query records")
    args = ap.parse_args()
    records = []
    for path in args.records:
        with open(path) as f:
            records.append(json.load(f))
    if args.measure:
        with open(CATALOG, "w") as f:
            json.dump(measure(sorted(records[0]["queries"])), f, indent=1)
            f.write("\n")
        return
    with open(CATALOG) as f:
        catalog = json.load(f)
    spec = {}
    for w, (queries, cov) in choose(catalog, records).items():
        spec[w] = {"why": WORKLOADS[w]["why"], "coverage": cov, "queries": queries}
        print(w, f"{sum(catalog[q]['warm_s'] for q in queries):.1f} s warm,", cov)
        for q in queries:
            print(f"  {q:34s} {catalog[q]['module']:12s} {catalog[q]['warm_s']:6.2f} s")
    with open(os.path.join(HERE, "workloads.json"), "w") as f:
        json.dump(spec, f, indent=2)
        f.write("\n")


if __name__ == "__main__":
    main()

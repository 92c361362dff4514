#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and harness if needed
(perfbench/build.py), runs one workload in one JVM, checks every execution's
output against perfbench/expected.tsv, and prints two lines: a detail record
(failure causes, sample counts, and for traced runs the no-op and
session-leak checks), then the result object whose `metrics` are the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import build  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
MIN_EXECS = benchlib.min_samples(0.75)  # timed executions query_p75_s needs
DEADLINE_S = 140    # the harness stops adding timed passes after this
TIMEOUT_S = 170     # the harness JVM is killed after this
ORDERS = 1000       # pass orders written to the plan; a run uses far fewer

JVM_OPTS = [
    # Spark 4 on JDK 17 outside spark-submit (as build.sbt's javaOptions)
    *[a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar"]
      for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    # the engine's own heap and JIT settings (build.sbt's javaOptions):
    # tiered C2, an 8g heap and its code-cache, class-unloading and G1 pins
    "-Xmx8g", "-XX:ReservedCodeCacheSize=1g", "-XX:-ClassUnloadingWithConcurrentMark",
    "-XX:G1HeapRegionSize=4m", "-XX:MetaspaceSize=512m",
    # build.sbt's -XX:+ExplicitGCInvokesConcurrent is left out on purpose:
    # live_heap_mb needs System.gc() to be a full collection. The flag only
    # changes System.gc(), which Spark's ContextCleaner calls every 300 s
    # (Sessions.local), longer than a run.
    # no hsperfdata file outside the checkout
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


def load_workloads():
    """{workload: [query, ...]} from workloads.json."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    return {w: v["queries"] for w, v in spec.items()}


def load_expected():
    with open(os.path.join(HERE, "expected.tsv")) as f:
        return benchlib.parse_expectations(f.read())


def private_shm(shm):
    """True when the JVM can get a private /dev/shm bound to `shm`, so the
    engine's tmpfs stream checkpoints land inside the run directory."""
    if not shutil.which("unshare"):
        return False
    r = subprocess.run(["unshare", "-m", "--propagation", "private", "--",
                        "sh", "-c", 'mount --bind "$0" /dev/shm', shm],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return r.returncode == 0


def base_plan(mode, queries, expected, orders, seconds=0, trace=0,
              min_execs=MIN_EXECS, deadline_s=DEADLINE_S):
    """Plan entries (tuples of fields) for the harness. The harness finds
    each query's module among benchlib.MODULES by reflection."""
    lines = [
        ("mode", mode), ("sf_dir", DATA),
        ("cpus", str(len(os.sched_getaffinity(0)))),
        ("seconds", str(seconds)), ("min_execs", str(min_execs)),
        ("deadline_s", str(deadline_s)),
        ("trace", str(trace)), ("modules", ",".join(benchlib.MODULES)),
    ]
    lines += [("expect", q, str(expected[q][0]), expected[q][1] or "-")
              for q in sorted(queries) if q in expected]
    lines += [("order", ",".join(o)) for o in orders]
    return lines


def harness(plan_lines, timeout_s=TIMEOUT_S):
    """Run the harness JVM on a plan inside a fresh run directory under
    .bench_build and return its raw record; the directory is removed after."""
    cp = build.ensure()
    run_dir = os.path.join(build.OUT, "runs", f"{os.getpid()}-{time.time_ns()}")
    for d in ("tmp", "shm", "warehouse", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        shm = private_shm(os.path.join(run_dir, "shm"))
        if not shm:
            print("perfbench: no private /dev/shm; stream checkpoints go to the "
                  "host's and are not counted in storage.*", file=sys.stderr)
        roots = [f"{run_dir}/tmp", f"{run_dir}/warehouse"] + (["/dev/shm"] if shm else [])
        plan = os.path.join(run_dir, "plan.tsv")
        with open(plan, "w") as f:
            for x in plan_lines + [("root", r) for r in roots]:
                f.write("\t".join(x) + "\n")
        return run_jvm(cp, plan, os.path.join(run_dir, "out.json"), run_dir, shm, timeout_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_jvm(cp, plan, out, run_dir, shm, timeout_s):
    env = {k: v for k, v in os.environ.items() if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    cmd = ["java", *JVM_OPTS,
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/spark-local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           f"-Dderby.system.home={run_dir}",
           "-cp", os.pathsep.join(cp), "graft.perfbench.Harness", plan, out]
    if shm:
        cmd = ["unshare", "-m", "--propagation", "private", "--", "sh", "-c",
               'mount --bind "$0" /dev/shm && exec "$@"', f"{run_dir}/shm", *cmd]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as lf:
            tail = lf.read()[-3000:]
        raise SystemExit(f"perfbench: harness exited with {rc}\n{tail}")
    with open(out) as f:
        return json.load(f)


def checks(raw):
    """No-op suspects and session leaks, from the traced executions."""
    first, timed_io, leaks = {}, {}, {}
    for e in raw["execs"]:
        if not e["traced"]:
            continue
        io = (e["files_written"], e["files_deleted"])
        first.setdefault(e["query"], io)
        if e["timed"]:
            timed_io.setdefault(e["query"], []).append(io)
        if e["state_diff"]:
            leaks.setdefault(e["query"], set()).update(e["state_diff"])
    return (benchlib.noop_suspects(first, timed_io),
            {q: sorted(v) for q, v in sorted(leaks.items())})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    workloads = load_workloads()
    if args.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {args.workload}; "
                         f"have {sorted(workloads)}")
    queries = workloads[args.workload]
    expected = load_expected()
    missing = sorted(q for q in queries if q not in expected)
    if missing:
        raise SystemExit(f"perfbench: no expected output for {missing}")

    orders = [benchlib.permutation(queries, args.seed, i) for i in range(ORDERS)]
    raw = harness(base_plan("run", queries, expected, orders, args.seconds, args.trace))

    # the raw record (spans included) of the last run per workload and mode
    os.makedirs(os.path.join(build.OUT, "last"), exist_ok=True)
    with open(os.path.join(build.OUT, "last", f"{args.workload}.trace{args.trace}.json"), "w") as f:
        json.dump(raw, f)
    fails = benchlib.failures(raw)
    n_attempted = len(raw["execs"])
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "query_samples": sum(1 for e in raw["execs"] if e["timed"]),
        "timed_passes": sum(1 for p in raw["passes"] if p["timed"]),
        "fail_frac": len(fails) / n_attempted,
        "failures": [{"query": q, "pass": p, "cause": c} for q, p, c in fails],
    }
    if args.trace:
        metrics = benchlib.per_layer(raw)
        noop, leaks = checks(raw)
        detail.update(noop_suspects=noop, conf_leaks=leaks)
        metrics["check.fail_frac"] = (detail["fail_frac"], "ratio")
        metrics["check.noop_suspects"] = (len(noop), "count")
        metrics["check.conf_leaks"] = (len(leaks), "count")
    else:
        metrics = benchlib.end_to_end(raw)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": not fails, "attempted": n_attempted, "failed": len(fails),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

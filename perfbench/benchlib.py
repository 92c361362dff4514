"""Pure logic of the benchmark: nothing here touches the JVM or the disk.

run.py feeds it the raw record the harness writes and prints what it
returns; test_benchlib.py pins each rule.
"""
import math
import statistics

MASK64 = (1 << 64) - 1


# ---------------------------------------------------------------- ordering

def _splitmix64(state):
    """One step of SplitMix64: (next_state, output). Pinned here rather than
    taken from `random` so a seed names the same order on every Python."""
    state = (state + 0x9E3779B97F4A7C15) & MASK64
    z = state
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
    return state, z ^ (z >> 31)


def permutation(names, seed, pass_index):
    """The query order of one pass: a Fisher-Yates shuffle of `names`
    (sorted first, so registry order never leaks in) driven by
    SplitMix64 seeded from (seed, pass_index)."""
    out = sorted(names)
    state = ((seed & 0xFFFFFFFF) << 32 | (pass_index & 0xFFFFFFFF)) & MASK64
    for i in range(len(out) - 1, 0, -1):
        state, r = _splitmix64(state)
        j = r % (i + 1)
        out[i], out[j] = out[j], out[i]
    return out


# ---------------------------------------------------------------- selection

def select(cands, weight, budget, required, covered=()):
    """A family's queries within `budget`: `required` first; then one query
    for each module neither they nor `covered` hold, the combination that
    carries the most weight within the budget (a multiple-choice knapsack,
    costs rounded up to 0.05); then the rest by weight per cost while they
    fit. When even each module's cheapest query overruns the budget, those
    are taken: every module gets a query.

    cands: {query: (module, cost)}; weight: {query: the share of its
    family's time it carries}. Ties break by name. Returns sorted names."""
    def units(q):
        return math.ceil(cands[q][1] / 0.05 - 1e-9)

    chosen = list(required)
    left = math.floor(budget / 0.05 + 1e-9) - sum(units(q) for q in chosen)
    mods = sorted({m for m, _ in cands.values()} - set(covered)
                  - {cands[q][0] for q in chosen})
    # best[c]: (weight, picks) of the heaviest one-per-module choice so far
    # costing at most c units
    best = [(0.0, ())] * (max(left, 0) + 1)
    for mod in mods:
        options = sorted(q for q in cands if cands[q][0] == mod)
        nxt = [None] * len(best)
        for c in range(len(best)):
            for q in options:
                prev = best[c - units(q)] if units(q) <= c else None
                if prev is not None and (nxt[c] is None or prev[0] + weight[q] > nxt[c][0]):
                    nxt[c] = (prev[0] + weight[q], prev[1] + (q,))
        best = nxt
    if mods and best[-1] is None:
        chosen += [min((q for q in cands if cands[q][0] == m), key=lambda q: (cands[q][1], q))
                   for m in mods]
    elif mods:
        chosen += best[-1][1]
    cost = sum(cands[q][1] for q in chosen)
    for q in sorted(cands, key=lambda q: (-weight[q] / max(cands[q][1], 1e-3), q)):
        if q not in chosen and cost + cands[q][1] <= budget:
            chosen.append(q)
            cost += cands[q][1]
    return sorted(chosen)


# ---------------------------------------------------------------- statistics

MIN_BEYOND = 4


def min_samples(q):
    """Smallest sample count with at least MIN_BEYOND samples beyond the
    q-th quantile."""
    return math.ceil(MIN_BEYOND / (1 - q) - 1e-9)


def percentile(values, q):
    """The q-th quantile by the Harrell-Davis estimator: a weighted mean of
    every order statistic, order statistic i (of n) weighted by the mass
    of Beta(q(n+1), (1-q)(n+1)) on [(i-1)/n, i/n]. A run's executions
    are a few clusters, one per query, and two adjacent order statistics
    can belong to different queries; this moves smoothly where their
    interpolation would jump between clusters.

    Guard: refused (ValueError) unless at least MIN_BEYOND samples lie
    beyond it, i.e. len(values) >= min_samples(q)."""
    if not 0 < q < 1:
        raise ValueError(f"q must be in (0, 1), got {q}")
    n = len(values)
    if n < min_samples(q):
        raise ValueError(f"p{round(q * 100)} needs {min_samples(q)} samples, got {n}")
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def density(x):
        if x <= 0 or x >= 1:
            return 0.0
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log(1 - x) - log_beta)

    steps = 64  # Simpson's rule per order statistic; a, b > 1 keep it smooth
    weights = []
    for i in range(n):
        lo, h = i / n, 1 / n / steps
        f = [density(lo + k * h) for k in range(steps + 1)]
        weights.append(h / 3 * (f[0] + f[-1] + 4 * sum(f[1:-1:2]) + 2 * sum(f[2:-1:2])))
    return sum(w * v for w, v in zip(weights, sorted(values))) / sum(weights)


def median(values):
    return statistics.median(values)


# ---------------------------------------------------------------- expectations

def parse_expectations(text):
    """Parse expected.tsv: `name<TAB>rows<TAB>hash` per line, `#` comments
    and blank lines ignored, hash `-` when the output is not deterministic.
    Returns {name: (rows, hash_or_None)}; rejects malformed or duplicate
    lines with ValueError naming the line."""
    out = {}
    for lineno, raw in enumerate(text.splitlines(), 1):
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split("\t")
        if len(parts) != 3:
            raise ValueError(f"line {lineno}: want 3 tab-separated fields")
        name, rows, digest = parts
        if not name.replace("_", "").isalnum():
            raise ValueError(f"line {lineno}: bad query name {name!r}")
        if not rows.isdigit():
            raise ValueError(f"line {lineno}: rows must be a whole number")
        if name in out:
            raise ValueError(f"line {lineno}: duplicate query {name}")
        if digest != "-" and not digest.lstrip("-").isdigit():
            raise ValueError(f"line {lineno}: hash must be an integer or -")
        out[name] = (int(rows), None if digest == "-" else digest)
    return out


# ---------------------------------------------------------------- spans

def _covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    covered by its children (clipped to the parent, overlaps counted once).

    `spans` is a list of dicts with id, parent (None for the root), start,
    end. Returns {id: self_time}."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        kids = [(max(s, c["start"]), min(e, c["end"]))
                for c in children.get(sp["id"], [])]
        out[sp["id"]] = (e - s) - _covered([k for k in kids if k[0] < k[1]])
    return out


# ---------------------------------------------------------------- checks

def noop_suspects(first_io, timed_io):
    """Queries whose first execution wrote or deleted files but whose timed
    executions all wrote and deleted none.

    first_io: {query: (files_written, files_deleted)} of its first execution;
    timed_io: {query: [(files_written, files_deleted), ...]}."""
    out = []
    for q, (w, d) in sorted(first_io.items()):
        runs = timed_io.get(q, [])
        if (w or d) and runs and all(tw == 0 and td == 0 for tw, td in runs):
            out.append(q)
    return out


# ---------------------------------------------------------------- metrics

NS = 1e9

# Module objects whose queries the workloads draw from. The harness finds
# each query's module among them by reflection, and every traced run
# reports a build/exec pair for each.
MODULES = ["ReferenceOps", "Relational", "EventOps", "ProfileOps", "BenchOnly",
           "DedupOps", "LshOps", "CorpusOps", "Curation", "VectorOps",
           "TextOps", "Multimodal", "StorageOps", "StreamShapes"]

# listener counters reported as per-layer metrics: (name, unit)
COUNTERS = [
    ("driver.analysis_ms", "ms"), ("driver.optimization_ms", "ms"),
    ("driver.planning_ms", "ms"),
    ("plan.scans", "count"), ("plan.exchanges", "count"),
    ("plan.broadcasts", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_cpu_s", "s"),
    ("spark.input_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.output_mb", "MB"),
    ("graftlog.records_read", "count"), ("graftlog.records_skipped", "count"),
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.addBatch_ms", "ms"), ("streaming.walCommit_ms", "ms"),
    ("streaming.commitOffsets_ms", "ms"), ("streaming.latestOffset_ms", "ms"),
    ("streaming.queryPlanning_ms", "ms"), ("streaming.state_rows", "count"),
    ("streaming.state_commit_ms", "ms"),
]


def exec_wall(e):
    return (e["build_ns"] + e["exec_ns"]) / NS


def failures(raw):
    """Every failed execution: (query, pass, cause). A wrong row count or
    content hash is a failure like an exception."""
    return [(e["query"], e["pass"], e["error"]) for e in raw["execs"] if e["error"]]


def end_to_end(raw):
    """The untraced run's end-to-end metrics: {name: (value, unit)}."""
    timed = [p for p in raw["passes"] if p["timed"]]
    walls = [exec_wall(e) for e in raw["execs"] if e["timed"]]
    return {
        "pass_s": (median([p["wall_ns"] / NS for p in timed]), "s"),
        "query_p50_s": (percentile(walls, 0.5), "s"),
        "query_p75_s": (percentile(walls, 0.75), "s"),
        "cpu_s": (median([p["cpu_ns"] / NS for p in timed]), "s"),
        "setup_s": (raw["setup"]["setup_ns"] / NS, "s"),
        "live_heap_mb": (raw["live_heap_mb"], "MB"),
    }


def per_layer(raw):
    """The traced run's per-layer metrics: {name: (value, unit)}, each a
    median over the traced timed passes of that pass's total, unless named
    otherwise."""
    cores = int(raw["cpus"])
    traced = [p for p in raw["passes"] if p["timed"] and p["traced"]]
    untraced = [p for p in raw["passes"] if p["timed"] and not p["traced"]]
    ids = [p["pass"] for p in traced]
    execs = {i: [e for e in raw["execs"] if e["pass"] == i] for i in ids}

    def per_pass(fn):
        return median([fn(i) for i in ids])

    def counter(i, k):
        return sum(e["counters"].get(k, 0.0) for e in execs[i])

    m = {"Sessions.local_s": (raw["setup"]["session_ns"] / NS, "s")}
    for mod in MODULES:
        for part in ("build", "exec"):
            m[f"operators.{mod}.{part}_s"] = (per_pass(lambda i: sum(
                e[f"{part}_ns"] for e in execs[i] if e["module"] == mod) / NS), "s")
    for k, unit in COUNTERS:
        m[k] = (per_pass(lambda i: counter(i, k)), unit)
    wall = {p["pass"]: p["wall_ns"] / NS for p in traced}
    m["spark.task_busy_frac"] = (per_pass(
        lambda i: counter(i, "spark.task_run_ms") / 1e3 / (wall[i] * cores)), "ratio")
    m["jvm.gc_ms"] = (median([p["gc_ms"] for p in traced]), "ms")
    m["jvm.jit_ms"] = (median([p["jit_ms"] for p in traced]), "ms")
    m["storage.files_written"] = (per_pass(lambda i: sum(e["files_written"] for e in execs[i])), "count")
    m["storage.files_deleted"] = (per_pass(lambda i: sum(e["files_deleted"] for e in execs[i])), "count")
    m["storage.bytes_written_mb"] = (per_pass(
        lambda i: sum(e["bytes_written"] for e in execs[i]) / 2 ** 20), "MB")
    m["streaming.trigger_ms"] = (per_pass(lambda i: counter(i, "streaming.triggerExecution_ms")), "ms")
    m["streaming.idle_ms"] = (per_pass(lambda i: counter(i, "streaming.wall_ms")
                                       - counter(i, "streaming.triggerExecution_ms")), "ms")

    spans = [dict(s, parent=None if s["parent"] < 0 else s["parent"]) for s in raw["spans"]]
    st = self_times(spans)
    for kind in ("pass", "query", "build", "exec"):
        m[f"self.{kind}_s"] = (per_pass(lambda i: sum(
            st[s["id"]] for s in spans if s["name"] == kind and s["pass"] == i) / NS), "s")
    m["self.run_s"] = (sum(st[s["id"]] for s in spans if s["name"] == "run") / NS, "s")

    traced_pass = median([p["wall_ns"] / NS for p in traced])
    untraced_pass = median([p["wall_ns"] / NS for p in untraced])
    m["tracing.traced_pass_s"] = (traced_pass, "s")
    m["tracing.untraced_pass_s"] = (untraced_pass, "s")
    m["tracing.overhead_s"] = (traced_pass - untraced_pass, "s")
    return m

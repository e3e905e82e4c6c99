"""Arithmetic of the benchmark: percentiles, interval unions, span self
time, failure counting, and the end-to-end and per-layer metrics made
from one run's raw record (the JSON that graftbench.Harness writes).

Everything here is pure, so test_metrics.py can check it without a JVM.
"""
import math
import re
import statistics

# A metric name: starts with a letter or digit, at most 64 letters,
# digits, '_', '.' and '-'.
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Phase spans of one query execution, in execution order.
PHASES = ("construct", "analyze", "optimize", "plan", "execute")


def valid_name(name):
    return NAME_RE.fullmatch(name) is not None


def tail(values, beyond=10):
    """The highest nearest-rank percentile with at least `beyond` samples
    strictly above it: returns (value, percentile, samples above), or
    None when there are too few samples."""
    s = sorted(values)
    for k in range(len(s) - beyond - 1, -1, -1):
        above = sum(1 for x in s if x > s[k])
        if above >= beyond:
            return s[k], 100.0 * (k + 1) / len(s), above
    return None


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def covered(intervals, within):
    """Length of the part of `within`'s union that `intervals` cover."""
    return (union_length(intervals) + union_length(within)
            - union_length(list(intervals) + list(within)))


def self_time(span, children):
    """A span's duration minus the part of its interval that its
    children cover."""
    return (span[1] - span[0]) - covered(children, [span])


def core_busy(task_run_s, job_s, cores):
    """Share of the cores' time inside jobs that tasks kept busy."""
    return task_run_s / (job_s * cores) if job_s > 0 else 0.0


def judge(executions, oracle_rows, bad_outputs):
    """Marks each timed execution ok or not: it failed if it threw, if
    its row count differs from the oracle's, or if the query's full
    output did not match the oracle. Returns (attempted, failed)."""
    failed = 0
    for e in executions:
        q = e["query"]
        e["ok"] = ("error" not in e and q not in bad_outputs
                   and e.get("rows") == oracle_rows.get(q))
        failed += not e["ok"]
    return len(executions), failed


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw, executions):
    """The user-visible metrics of an untraced run. Returns (metrics,
    notes) where notes describe the tail percentile."""
    lat = [e["t1"] - e["t0"] for e in executions]
    passes = {}
    for e in executions:
        a, b = passes.get(e["pass"], (e["t0"], e["t1"]))
        passes[e["pass"]] = (min(a, e["t0"]), max(b, e["t1"]))
    t = tail(lat)
    if t is None:
        raise ValueError(f"{len(lat)} executions: too few for the tail rule")
    ok = sum(e["ok"] for e in executions)
    metrics = {
        "pass_s": (_median([b - a for a, b in passes.values()]), "s"),
        "query_p50_s": (_median(lat), "s"),
        "query_tail_s": (t[0], "s"),
        "setup_s": (raw["session_start_s"][0] + sum(p["s"] for p in raw["prime"]), "s"),
        "ok_ratio": (ok / len(executions), "ratio"),
        "retained_mb": (raw["heap_used_mb"] + raw["offheap_storage_mb"], "MB"),
    }
    notes = f"query_tail_s is p{t[1]:.1f} of {len(lat)} executions, {t[2]} beyond it"
    return metrics, notes


class _Query:
    """One traced execution with its phases, jobs and stages."""

    def __init__(self, e, span, phases):
        self.e, self.span, self.phases = e, span, phases
        self.jobs = {p: [] for p in PHASES}


def _build(raw):
    spans = {s["id"]: s for s in raw["spans"]}
    # a failed execution counts in ok_ratio; its layers are not measured
    traced = [e for e in raw["executions"]
              if e.get("traced") and "span" in e and "error" not in e]
    queries, phase_of = [], {}
    for e in traced:
        qs = spans[e["span"]]
        phases = {}
        for s in raw["spans"]:
            if s["parent"] == qs["id"] and s["kind"] == "phase":
                phases[s["name"]] = s
                phase_of[str(s["id"])] = (len(queries), s["name"])
        queries.append(_Query(e, qs, phases))
    stages_by_job = {}
    for st in raw["stages"]:
        if st["t0"] is not None and st["t1"] is not None:
            stages_by_job.setdefault(st["job"], []).append(st)
    for j in raw["jobs"]:
        if j["t1"] is None:
            continue
        home = phase_of.get(j["span"]) if j["span"] else None
        if home is None:
            # submitted from a thread that did not inherit the span
            # property: attribute by the phase in which the job started
            for i, q in enumerate(queries):
                for name, s in q.phases.items():
                    if s["t0"] <= j["t0"] <= s["t1"]:
                        home = (i, name)
        if home is not None:
            j["stages"] = stages_by_job.get(j["id"], [])
            queries[home[0]].jobs[home[1]].append(j)
    return queries


def per_layer(raw):
    """Per-layer metrics of a traced run, each a mean per traced
    execution unless its name says otherwise, plus the per-query check
    that layer self times sum to within 10% of wall time. Returns
    (metrics, notes)."""
    qs = _build(raw)
    if not qs:
        raise ValueError("traced run recorded no traced executions")
    n = len(qs)
    acc = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    run_s = job_total = 0.0
    wall_by_q, self_by_q = {}, {}
    for q in qs:
        e, span = q.e, (q.span["t0"], q.span["t1"])
        wall = span[1] - span[0]
        phase_iv = {p: (s["t0"], s["t1"]) for p, s in q.phases.items()}
        selfs = {"query": self_time(span, phase_iv.values())}
        all_jobs = []
        for p in PHASES:
            iv = phase_iv.get(p, (0.0, 0.0))
            jobs = q.jobs[p]
            all_jobs += jobs
            job_iv = [(j["t0"], j["t1"]) for j in jobs]
            selfs[p] = self_time(iv, job_iv)
            add(f"{p}_s", iv[1] - iv[0])
            add(f"{p}_jobs", len(jobs))
            add(f"{p}_job_s", union_length(job_iv))
        # the job layer is the time some job of a phase runs and no stage
        # of it does; the stage layer is the time some stage runs. Both
        # are unions, so concurrent jobs or stages count once, and a job
        # running past the end of its phase makes the sum exceed wall.
        job_self = stage_self = 0.0
        for p in PHASES:
            job_iv = [(j["t0"], j["t1"]) for j in q.jobs[p]]
            st_iv = [(s["t0"], s["t1"]) for j in q.jobs[p] for s in j["stages"]]
            in_stage = covered(st_iv, job_iv)
            job_self += union_length(job_iv) - in_stage
            stage_self += in_stage
        for j in all_jobs:
            for s in j["stages"]:
                for k in ("run_s", "cpu_s", "gc_s", "shuffle_read_mb",
                          "shuffle_write_mb", "fetch_wait_s", "spill_mb", "scan_rows"):
                    add(k, s[k])
            run_s += sum(s["run_s"] for s in j["stages"])
        for j in q.jobs["execute"]:
            add("exec_stages", len(j["stages"]))
            add("exec_tasks", sum(s["tasks"] for s in j["stages"]))
        job_total += union_length([(j["t0"], j["t1"]) for j in all_jobs])
        selfs["job"], selfs["stage"] = job_self, stage_self
        for k, v in selfs.items():
            add(f"self.{k}", v)
        name = e["query"]
        wall_by_q[name] = wall_by_q.get(name, 0.0) + wall
        self_by_q[name] = self_by_q.get(name, 0.0) + sum(selfs.values())
        for k in ("exchanges", "compiles", "compile_s", "storage_write_mb",
                  "storage_files", "pinned_mb", "stream_batches", "stream_batch_s", "rows"):
            add(k, e[k])

    loads = raw["table_loads"]
    cores = raw["cores"]
    m = {
        "tables.load_s": (_median([x["s"] for x in loads]), "s"),
        "tables.load_jobs": (sum(x["jobs"] for x in loads) / len(loads) if loads else 0.0, "count"),
        "construct.s": (acc["construct_s"] / n, "s"),
        "construct.jobs": (acc["construct_jobs"] / n, "count"),
        "construct.job_s": (acc["construct_job_s"] / n, "s"),
        "construct.driver_s": (acc["self.construct"] / n, "s"),
        "catalyst.analyze_s": (acc["analyze_s"] / n, "s"),
        "catalyst.optimize_s": (acc["optimize_s"] / n, "s"),
        "catalyst.plan_s": (acc["plan_s"] / n, "s"),
        "catalyst.exchanges": (acc["exchanges"] / n, "count"),
        "exec.s": (acc["execute_s"] / n, "s"),
        "exec.jobs": (acc["execute_jobs"] / n, "count"),
        "exec.stages": (acc.get("exec_stages", 0.0) / n, "count"),
        "exec.tasks": (acc.get("exec_tasks", 0.0) / n, "count"),
        "exec.job_s": (acc["execute_job_s"] / n, "s"),
        "exec.driver_s": (acc["self.execute"] / n, "s"),
        "task.run_s": (acc.get("run_s", 0.0) / n, "s"),
        "task.cpu_s": (acc.get("cpu_s", 0.0) / n, "s"),
        "task.gc_s": (acc.get("gc_s", 0.0) / n, "s"),
        "task.core_busy": (core_busy(run_s, job_total, cores), "ratio"),
        "codegen.compiles": (acc["compiles"] / n, "count"),
        "codegen.compile_s": (acc["compile_s"] / n, "s"),
        "shuffle.read_mb": (acc.get("shuffle_read_mb", 0.0) / n, "MB"),
        "shuffle.write_mb": (acc.get("shuffle_write_mb", 0.0) / n, "MB"),
        "shuffle.fetch_wait_s": (acc.get("fetch_wait_s", 0.0) / n, "s"),
        "spill.mb": (acc.get("spill_mb", 0.0) / n, "MB"),
        "scan.rows": (acc.get("scan_rows", 0.0) / n, "count"),
        "scan.rows_per_result": (acc.get("scan_rows", 0.0) / max(acc["rows"], 1.0), "ratio"),
        "storage.write_mb": (acc["storage_write_mb"] / n, "MB"),
        "storage.files": (acc["storage_files"] / n, "count"),
        "storage.pinned_mb": (acc["pinned_mb"] / n, "MB"),
        "stream.batches": (acc["stream_batches"] / n, "count"),
        "stream.batch_s": (acc["stream_batch_s"] / acc["stream_batches"]
                           if acc["stream_batches"] else 0.0, "s"),
    }
    for k in ("query", *PHASES, "job", "stage"):
        m[f"self.{k}_s"] = (acc[f"self.{k}"] / n, "s")
    off = {q: self_by_q[q] / wall_by_q[q] - 1 for q in wall_by_q}
    worst = max(off, key=lambda q: abs(off[q]))
    m["trace.self_sum_err"] = (abs(off[worst]), "ratio")
    m["trace.overhead"] = (overhead(raw["executions"]), "ratio")
    bad = sorted(q for q, d in off.items() if abs(d) > 0.10)
    notes = (f"{n} traced executions; layer self times sum to wall within "
             f"{100 * abs(off[worst]):.1f}% (worst {worst})")
    if bad:
        notes += "; over 10% for: " + ", ".join(f"{q} {100 * off[q]:+.1f}%" for q in bad)
    return m, notes


def overhead(executions):
    """Tracing overhead: the geometric mean, over the queries that ran
    both ways, of traced over untraced median time, minus one. Each
    query is traced in alternate passes, so warm-up slows its traced and
    its untraced runs alike across queries, and the ratios cancel it."""
    t, u = {}, {}
    for e in executions:
        d = t if e.get("traced") else u
        d.setdefault(e["query"], []).append(e["t1"] - e["t0"])
    logs = [math.log(_median(t[q]) / _median(u[q])) for q in t if q in u]
    return math.exp(statistics.fmean(logs)) - 1 if logs else 0.0

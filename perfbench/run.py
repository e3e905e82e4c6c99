#!/usr/bin/env python3
"""Closed-loop benchmark of graft's queries at sf0.1, one client.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Builds the harness and the graft sources with sbt (once per source
state), runs one JVM per run (graftbench.Harness), checks every query's
output against its DuckDB oracle, and prints a table of metrics followed
by one JSON line. `--trace 0` reports the end-to-end metrics, `--trace 1`
the per-layer ones. The run's raw record (with the span tree, when
traced) is kept in perfbench/out/. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.1"
OUT = BENCH / "out"
STAMP = BENCH / "target" / "bench-classpath.json"

# Each workload: its queries, and the nominal seconds of one warm pass
# over them at the seed commit on 4 cores. A run times whole passes:
# enough for `--seconds` of nominal pass time, at least 11 executions
# for the tail rule, and at least 3 so that the median pass discards one
# disturbed pass. So every run of a workload times the same query mix,
# whatever the seed.
WORKLOADS = {
    "relational": {
        "queries": ["q_filter_project", "q1_agg", "q_limit_topk", "q_join_agg",
                    "q_tpch5", "q_tpch6", "q_tpch18", "q_tpch21"],
        "pass_s": 7.5,
    },
    "iterative": {
        "queries": ["graph_communities", "dedup_clusters", "pipeline_ingest"],
        "pass_s": 5.5,
    },
}
MIN_EXECUTIONS = 11
MIN_PASSES = 3

# The module options Spark's launcher passes on JDK 17 (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A run must end within 180 s: the JVM's share, and the build's (first
# run only).
JVM_TIMEOUT_S = 120
BUILD_TIMEOUT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it. On timeout or
    interruption the whole group is killed and reaped, so no process
    outlives the run. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def sources():
    """Every file the build reads, in a stable order."""
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def classpath():
    """Compiles with sbt when the sources changed since the last build,
    and returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT / 'src' / 'main' / 'scala'}")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    if STAMP.exists():
        stamp = json.loads(STAMP.read_text())
        if stamp["sources"] == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        # the first spark-submit on the PATH that sits in a distribution
        homes = [Path(d).parent for d in env.get("PATH", "").split(os.pathsep)
                 if (Path(d) / "spark-submit").exists() and (Path(d).parent / "jars").is_dir()]
        if not homes:
            fail("no Spark distribution: set SPARK_HOME or put its bin/ on the PATH")
        env["SPARK_HOME"] = str(homes[0])
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if repos.exists() else ""))
    # no sbt server, no JVM perf-data files, and sbt's temporary files
    # inside the build directory
    tmp = BENCH / "target" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] += f" -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp}"
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    log = BENCH / "target" / "build.log"
    with open(log, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT)
    out = log.read_text()
    if rc != 0:
        sys.stderr.write(out[-4000:])
        fail(f"sbt build failed ({'timeout' if rc is None else rc})")
    cp = [ln for ln in out.splitlines() if not ln.startswith("[") and ".jar" in ln]
    if not cp:
        fail("sbt printed no classpath")
    STAMP.write_text(json.dumps({"sources": digest, "classpath": cp[-1].strip()}))
    return cp[-1].strip()


def cpu_times():
    """The machine's aggregate CPU tick counters (user ... steal), or
    None where /proc/stat does not exist."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:9]]
    except OSError:
        return None


def run_jvm(cp, queries, passes, seed, trace, run_dir):
    """One harness JVM with its temporary and Spark local directories
    inside run_dir. Returns the raw record."""
    tmp, local = run_dir / "tmp", run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx4g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           f"-Dderby.system.home={run_dir / 'derby'}",
           "-cp", cp, "graftbench.Harness",
           f"queries={','.join(queries)}", f"sf={DATA}", f"out={run_dir}",
           f"seed={seed}", f"passes={passes}", f"cores={len(os.sched_getaffinity(0))}",
           f"trace={trace}"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    with open(run_dir / "jvm.log", "w") as log:
        rc = run_group(cmd, JVM_TIMEOUT_S, cwd=run_dir, env=env,
                       stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        fail(f"harness JVM exited with {'timeout' if rc is None else rc}")
    return json.loads((run_dir / "raw.json").read_text())


def load_selfcheck():
    """The repository's DuckDB oracle gate, tools/selfcheck.py."""
    spec = importlib.util.spec_from_file_location("selfcheck", ROOT / "tools" / "selfcheck.py")
    selfcheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(selfcheck)
    return selfcheck


def oracle_frames(oracle, selfcheck):
    """Each query's DuckDB oracle result. An oracle's answer depends only
    on its SQL text and the table files, so it is kept in
    perfbench/out/oracle/ under a hash of both: the dedup oracles take
    up to 45 s in DuckDB, longer than the run they check."""
    import duckdb
    import pandas as pd
    h = hashlib.sha256()
    for f in sorted(DATA.iterdir()):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    data_digest = h.hexdigest()
    cache = OUT / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    con, frames = None, {}
    for q, sql in oracle.items():
        path = cache / (hashlib.sha256((data_digest + sql).encode()).hexdigest() + ".pkl")
        if not path.exists():
            if con is None:
                con = duckdb.connect()
                for t in selfcheck.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{DATA}/{t}.parquet')")
            con.execute(sql).df().to_pickle(path)
        frames[q] = pd.read_pickle(path)
    return frames


def oracle_check(check_dir, queries):
    """Compares each primed query's full output with its DuckDB oracle,
    by the rules of tools/selfcheck.py: same column names, same row
    count, same values once columns and rows are sorted. Returns
    ({query: why it failed}, {query: oracle row count})."""
    import numpy as np
    import pandas as pd
    selfcheck = load_selfcheck()
    oracle = json.loads((check_dir / "oracle_sql.json").read_text())
    frames = oracle_frames({q: oracle[q] for q in queries if q in oracle}, selfcheck)
    bad, rows = {}, {}
    for q in queries:
        if q not in frames:
            bad[q] = "no oracle"
            continue
        rows[q] = len(frames[q])
        if not (check_dir / q).exists():
            bad[q] = "no output written"
            continue
        got = selfcheck.canon(pd.read_parquet(check_dir / q))
        want = selfcheck.canon(frames[q])
        if list(got.columns) != list(want.columns):
            bad[q] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            bad[q] = f"rows {len(got)} != {len(want)}"
        else:
            diff = [c for c in got.columns if not (
                np.allclose(got[c], want[c], rtol=0, atol=0, equal_nan=True)
                if pd.api.types.is_float_dtype(got[c]) and pd.api.types.is_float_dtype(want[c])
                else got[c].astype(str).equals(want[c].astype(str)))]
            if diff:
                bad[q] = f"values differ in {diff}"
    return bad, rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still unwinds, so its child process groups are killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, str(BENCH))
    import metrics

    if not DATA.is_dir():
        fail(f"no table data under {DATA}")
    w = WORKLOADS[a.workload]
    cp = classpath()
    n = len(w["queries"])
    passes = max(MIN_PASSES, -int(-a.seconds // w["pass_s"]), -(-MIN_EXECUTIONS // n))
    run_dir = OUT / f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        cpu0 = cpu_times()
        raw = run_jvm(cp, w["queries"], passes, a.seed, a.trace, run_dir)
        cpu1 = cpu_times()
        bad, oracle_rows = oracle_check(run_dir / "check", w["queries"])
        record = OUT / f"raw-{a.workload}-seed{a.seed}-trace{a.trace}.json"
        shutil.copy(run_dir / "raw.json", record)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = raw["executions"]
    attempted, failed = metrics.judge(timed, oracle_rows, bad)
    for q, why in sorted(bad.items()):
        print(f"oracle mismatch: {q}: {why}")
    for e in timed:
        if not e["ok"] and "error" in e:
            print(f"failed: {e['query']} pass {e['pass']}: {e['error']}")
    if a.trace:
        m, notes = metrics.per_layer(raw)
    else:
        m, notes = metrics.end_to_end(raw, timed)
    if cpu0 and cpu1:
        # time other guests took from this machine's CPUs while the JVM
        # ran; it inflates every timing of the run alike
        d = [b - a for a, b in zip(cpu0, cpu1)]
        notes += f"; cpu steal {100 * d[7] / max(sum(d), 1):.1f}% during the run"
    notes += f"; raw record in {record.relative_to(ROOT)}"
    for k, (v, unit) in m.items():
        assert metrics.valid_name(k), k
        print(f"{a.workload:11s} {k:24s} {v:14.6f} {unit}")
    print(f"{a.workload:11s} {notes}")
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }))


if __name__ == "__main__":
    main()

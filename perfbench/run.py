#!/usr/bin/env python3
"""One benchmark run of the detection engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <syn_flood|flow_catalog>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the harness and the engine from source on first use (sbt, cached
under .bench_build/), makes the workload's inputs from the seed, runs
one JVM on local[2], checks every output, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("syn_flood", "flow_catalog")
# Per-layer metrics (by name prefix) a workload does not exercise; they
# read 0 in its traced run. Any other per-layer metric the run did not
# measure is a failure.
NOT_EXERCISED = {
    "syn_flood": ("driver.", "operators."),
    "flow_catalog": ("ingest.", "flow.", "stream.", "ml.", "sink.", "gen.", "trace.cut_coverage",
                     "wall.verdict_"),
}
# The JVM must end well inside the 180 s a run may take.
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
# Rows of the catalog's `events` table (see perfbench/README.md for how
# the size was chosen).
EVENT_ROWS = 100_000

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, for the rebuild stamp."""
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
             BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src" / "main"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            yield from sorted(p for p in r.rglob("*") if p.is_file())


def build():
    """Compiles engine and harness once per source state; returns the classpath."""
    stamp = hashlib.sha256()
    for p in sources():
        st = p.stat()
        stamp.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    stamp = stamp.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building engine and harness (sbt)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in proc.stdout:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def make_tables(seed, out):
    """The catalog's table, seeded: EVENT_ROWS rows of the engine's `events`
    contract, one every 0.26 s on average. Values sit on a two-decimal grid, as the oracle compare
    needs. Users are 200 with a heavy-hitter fifth, inside the 256
    counters where the Misra-Gries query is exact and its exact-count
    oracle applies.
    """
    import duckdb
    out.mkdir(parents=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    s = int(seed) % 2_000_000_000

    def u(salt, i="i"):  # uniform in [0, 1) from the seed
        return f"((hash({i}, {s}, {salt}) % 1000003) / 1000003.0)"

    con.execute(f"""COPY (
        SELECT i AS event_id,
               TIMESTAMP '2024-01-01' + to_microseconds(CAST(i * 259200 + floor({u(1)} * 259200) AS BIGINT)) AS ts,
               CAST(CASE WHEN {u(2)} < 0.2 THEN floor({u(3)} * 10) ELSE floor({u(3)} * 200) END AS BIGINT) AS user_id,
               (['view', 'click', 'purchase', 'signup', 'error'])[1 + CAST(floor({u(4)} * 5) AS INTEGER)] AS event_type,
               round(-ln(1 - {u(5)}) * 60, 2) AS value,
               '{{"k": ' || CAST(floor({u(6)} * 100) AS INTEGER) || '}}' AS props
        FROM range({EVENT_ROWS}) t(i)) TO '{out}/events.parquet' (FORMAT PARQUET)""")
    con.close()


def oracle_failures(tables, results, oracles):
    """Compares each persisted basket result with its DuckDB oracle,
    using the engine's own compare (tools/check.py)."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check
    con = check.connect(tables)
    bad = []
    for name, sql in oracles.items():
        if not sql:
            bad.append(f"{name}: no oracle")
            continue
        status, detail = check.compare(con, sql, results / name)
        if status != "PASS":
            bad.append(f"{name}: oracle {status}: {detail}")
    return bad


def main():
    # a terminated run unwinds (and stops its JVM) instead of dying at once
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala", ROOT / "tools" / "check.py"):
        if not need.exists():
            raise SystemExit(f"not a checkout of the engine: {need} is missing")
    cp = build()

    t_setup = time.time()
    work = BUILD / f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        tables = work / "tables"
        if a.workload == "flow_catalog":
            make_tables(a.seed, tables)
        out = work / "result.json"
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
        cmd = [java, *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
               "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--work", str(work), "--out", str(out),
               "--tables", str(tables)]
        jvm_log = work / "jvm.log"
        with open(jvm_log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise SystemExit(f"run did not finish within {JVM_TIMEOUT_S} s")
            finally:
                # also on SIGTERM: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        for line in jvm_log.read_text(errors="replace").splitlines():
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        if proc.returncode != 0 or not out.exists():
            sys.stderr.write(jvm_log.read_text(errors="replace")[-5000:])
            raise SystemExit(f"engine run failed (exit {proc.returncode})")
        res = json.loads(out.read_text())
        failures = list(res["failures"])
        attempted, failed = int(res["attempted"]), int(res["failed"])
        if res["oracles"]:
            mismatches = oracle_failures(tables, work / "results", res["oracles"])
            failures += mismatches
            failed += len(mismatches)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = dict(res["metrics"])
    if res["first_op_ms"] > 0:
        got["setup_s"] = res["first_op_ms"] / 1000.0 - t_setup
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        elif a.trace and m["name"].startswith(NOT_EXERCISED[a.workload]):
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            failures.append(f"{m['name']} was not measured")
            failed += 1
    for f in failures:
        log(f"FAILED: {f}")
    print(json.dumps({"correct": failed == 0, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

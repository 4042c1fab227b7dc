#!/usr/bin/env python3
"""graft benchmark: two workloads over graft's public operator functions.

Usage (from the repository root):

    python3 perfbench/run.py --workload form_etl --seed 1 --seconds 5 --trace 0

Workloads (README.md and BENCHMARK.json say why each exists):
  form_etl      the reference's form pipeline, one call per layer
  curate_store  curation of 500 documents, stores written from them, then a
                ~50-document crawl appended to the stored NB counts and a
                stored hybrid search

The first run in a checkout builds the benchmark with sbt; later runs reuse
the build until a source file changes. A run generates its inputs from the
seed under `.perfbench/`, runs the workload in a fresh JVM, checks every
checked call's output against the registered query's DuckDB oracle SQL, and
prints one JSON line last. With `--trace 0` it reports the end-to-end metrics,
with `--trace 1` the per-layer ones and writes the spans next to its inputs.
A wrong output or a failed call prints `"correct": false` and exits 1: a call
that throws stops early, so its pass would read too fast. The failed calls and
mismatches are listed on standard error. A failed build, a JVM that dies or
runs past its time limit, or a missing tool exits 1 without a result, with the
reason as the last line of standard error.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

try:
    import duckdb
    import numpy  # noqa: F401  (gen.py)
    import pyarrow.parquet as pq
except ImportError as e:
    sys.exit(f"perfbench: {sys.executable} lacks a package the benchmark needs "
             f"(duckdb, numpy, pyarrow): {e}")

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

WORKLOADS = ("form_etl", "curate_store")
HEAP = "3g"
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 outside spark-submit needs these (the list graft's
# build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build compiles, to tell a stale build."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building first if the sources changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: graft's sources are not next to the benchmark; "
                 "run it from the root of a graft checkout")
    stamp = source_stamp()
    cp_file = HERE / "target" / "classpath.txt"
    stamp_file = HERE / "target" / "build.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building (sbt stageClasspath)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if shutil.which("sbt") is None:
        sys.exit("perfbench: sbt is not on PATH; the first run builds graft with it")
    try:
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "stageClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, check=True, timeout=840)
    except subprocess.SubprocessError as e:
        sys.exit(f"perfbench: the build failed: {e}")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def run_jvm(cp, workload, inputs, work, seconds, trace):
    result = work / "result.json"
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", cp, "perfbench.Main",
            workload, str(inputs), str(work), str(seconds), str(trace), str(result)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        subprocess.run(cmd, cwd=work, stdout=sys.stderr, check=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {workload}: the JVM ran past {JVM_TIMEOUT_S} s and was stopped")
    except subprocess.CalledProcessError as e:
        sys.exit(f"perfbench: {workload}: the JVM exited with code {e.returncode} "
                 "(its stderr is above)")
    res = json.loads(result.read_text())
    for f in res["failures"]:
        log(f"FAILED CALL {f}")
    return res


def oracle_mismatches(checks, inputs):
    """Compares each checked call's parquet output with its oracle SQL over
    the generated inputs, in tools/check_oracle.py's canonical form."""
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for f in sorted(inputs.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    bad = []
    for c in checks:
        if c["failed"]:
            bad.append(f"{c['call']}: failed")
            continue
        t0 = time.monotonic()
        sn, sc, sh, _ = canon(pq.read_table(c["path"]))
        dn, dc, dh, _ = canon(con.sql(c["sql"]).fetch_arrow_table())
        took = time.monotonic() - t0
        if (sn, sc, sh) != (dn, dc, dh):
            bad.append(f"{c['call']} vs {c['oracle']}: rows {sn}/{dn}, cols {sc == dc}, hash {sh == dh}")
        else:
            log(f"oracle ok {c['call']} = {c['oracle']} ({sn} rows, {took:.2f} s)")
    for b in bad:
        log(f"ORACLE MISMATCH {b}")
    return len(bad)


def docs_per_pass(inputs):
    return pq.read_metadata(inputs / "documents.parquet").num_rows


def flag_counts(workload, res):
    """Warns when a traced run's per-pass job count differs by more than one
    job across its passes or from earlier traced runs in this checkout."""
    jobs, tasks = res["pass_jobs"], res["pass_tasks"]
    if max(jobs) - min(jobs) > 1:
        log(f"FLAG {workload}: per-pass jobs vary within the run: {jobs}")
    ledger = STATE / "pass_counts.jsonl"
    past = [json.loads(x) for x in ledger.read_text().splitlines()] if ledger.is_file() else []
    now = {"workload": workload, "jobs": statistics.median(jobs), "tasks": statistics.median(tasks)}
    for p in past:
        if p["workload"] == workload and abs(p["jobs"] - now["jobs"]) > 1:
            log(f"FLAG {workload}: per-pass jobs/tasks {now['jobs']}/{now['tasks']} differ "
                f"from an earlier run's {p['jobs']}/{p['tasks']}")
            break
    with ledger.open("a") as f:
        f.write(json.dumps(now) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.monotonic()
    cp = build()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    inputs = STATE / "inputs" / run_id
    work = STATE / "work" / run_id
    gen.generate(a.workload, a.seed, inputs)
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)

    t1 = time.monotonic()
    res = run_jvm(cp, a.workload, inputs, work, a.seconds, a.trace)
    t2 = time.monotonic()
    (STATE / "results").mkdir(exist_ok=True)
    shutil.copyfile(work / "result.json", STATE / "results" / f"{run_id}.json")
    mismatches = oracle_mismatches(res["checks"], inputs)
    docs = docs_per_pass(inputs)
    log(f"{a.workload}: build check and inputs {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, "
        f"oracle {time.monotonic() - t2:.1f} s")

    warm = res["warm_pass_s"]
    warm_s = statistics.median(warm)
    log(f"{a.workload}: setup {res['setup_s']:.3f} s (session {res['session_s']:.3f} s, "
        f"one-time work {res['setup_work_s']}), cold {res['cold_pass_s']:.3f} s, "
        f"warm median {warm_s:.3f} s over {len(warm)} passes {[round(x, 3) for x in warm]}")
    if a.trace:
        flag_counts(a.workload, res)
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in res["per_layer"].items()}
        metrics["oracle_mismatches"] = {"value": mismatches, "unit": "count"}
        traces = STATE / "traces"
        traces.mkdir(exist_ok=True)
        shutil.copyfile(work / "spans.json", traces / f"{run_id}.spans.json")
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "cold_pass_s": {"value": res["cold_pass_s"], "unit": "s"},
            "warm_pass_s": {"value": warm_s, "unit": "s"},
            "docs_per_s": {"value": docs / warm_s, "unit": "1/s"},
        }
    shutil.rmtree(work, ignore_errors=True)
    correct = mismatches == 0 and res["failed"] == 0
    if not correct:
        log(f"{a.workload}: INCORRECT: {mismatches} oracle mismatches, "
            f"{res['failed']} failed calls (listed above)")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload of the CDC -> feed pipeline.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from the checkout's sources with sbt
when they or the compiled classes changed since the last build (sbt writes
the classes to target/ and perfbench/target/; the build's stamp, launch
line and log go to .bench_build/perfbench), starts one benchmark JVM, and
prints its result as the last line of standard output:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
For feed_analytics it then checks every query output against its oracle SQL
under DuckDB with tools/oracle_check.py and folds mismatches into the
result. Exits non-zero when any output is wrong or the run fails.
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
ROOT = BENCH.parent
STATE = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("ingest_drain", "serve_pages", "feed_analytics")
HEAP = ["-Xms3g", "-Xmx3g"]
JVM_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def classes_changed(launch, since):
    """Whether a classpath entry is missing, or a class directory inside the
    checkout holds a file written after `since` (another sbt run, a clean)."""
    for entry in launch[0].split(os.pathsep):
        p = Path(entry)
        if not p.exists():
            return True
        if p.is_dir() and ROOT in p.parents:
            for d, _, files in os.walk(p):
                if any(os.stat(os.path.join(d, f)).st_mtime > since for f in files):
                    return True
    return False


def build():
    """Compile with sbt unless the sources and classes are unchanged; returns the JVM
    launch line (classpath, then the root build's JVM options)."""
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp, launch = STATE / "build.sha256", STATE / "launch.txt"
    if launch.exists() and stamp.exists() and stamp.read_text() == h.hexdigest():
        lines = launch.read_text().splitlines()
        if not classes_changed(lines, stamp.stat().st_mtime):
            return lines
    STATE.mkdir(parents=True, exist_ok=True)
    log = STATE / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, timeout=880)
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        die("build failed", 3)
    shutil.copy(BENCH / "target" / "launch.txt", launch)
    stamp.write_text(h.hexdigest())
    return launch.read_text().splitlines()


def run_jvm(launch, main, args, work):
    cp, opts = launch[0], [o for o in launch[1:] if o]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *opts, *HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", cp, main, *args]
    with open(work / "jvm.log", "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{main} did not finish within {JVM_TIMEOUT_S}s", 4)
    if p.returncode != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        sys.stderr.write(out[-2000:])
        die(f"{main} exited with {p.returncode}", 4)
    return out


def oracle_check(report):
    """Mismatches of the feed_analytics outputs against their oracle SQL."""
    o = report["oracle_check"]
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "oracle_check.py"),
                        o["fixture"], o["out"]], capture_output=True, text=True, timeout=170)
    fails = [l for l in r.stdout.splitlines() if l.startswith("FAIL")]
    if r.returncode != 0 and not fails:
        fails = [f"oracle check exited {r.returncode}: {r.stderr[-500:]}"]
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no program sources next to {BENCH.name}/ (expected build.sbt and src/main/scala)")

    launch = build()
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-t{a.trace}"
    work = STATE / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.selftest:
            sys.stdout.write(run_jvm(launch, "perfbench.SelfTest", [], work))
            return
        t0 = time.time()
        out = run_jvm(launch, "perfbench.Main",
                      ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--work", str(work)], work)
        result = json.loads(out.strip().splitlines()[-1])
        report = json.loads((work / "report.json").read_text())
        report["jvm_wall_s"] = time.time() - t0
        if "oracle_check" in report:
            fails = oracle_check(report)
            for f in fails[:20]:
                print(f"perfbench: WRONG {f}", file=sys.stderr)
            result["failed"] += len(fails)
            result["correct"] = result["correct"] and not fails
            report["oracle_failures"] = fails
        reports = STATE / "reports"
        reports.mkdir(parents=True, exist_ok=True)
        (reports / f"{name}.json").write_text(json.dumps(report, indent=1))
        if a.trace and (work / "spans.jsonl").exists():
            shutil.copy(work / "spans.jsonl", reports / f"{name}.spans.jsonl")
        print(json.dumps(result))
        if not result["correct"]:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

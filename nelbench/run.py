#!/usr/bin/env python3
"""nelspark benchmark: build the checkout, run one workload, check, report.

Usage (from the root of a checkout):

    python3 nelbench/run.py --workload er-hot --seed 1 --seconds 4 --trace 0
    python3 nelbench/run.py --workload all --seed 1 --seconds 4 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the `end_to_end` metrics of
BENCHMARK.json with `--trace 0`, its `per_layer` metrics with `--trace 1`.
The line before it holds the run's context: seed, machine stamps, the
workload's own named metrics and any failed check. See nelbench/README.md.
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

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORKLOADS = ["er-hot", "er-resume", "query-surface"]
# Per-layer metric prefixes each workload produces; the others read 0
# because the workload never calls those layers.
OWNED = {
    "er-hot": ("pipeline.", "trace."),
    "er-resume": ("store.", "trace."),
    "query-surface": ("graft.", "trace."),
}
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[nelbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    d.mkdir(parents=True, exist_ok=True)
    return d


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    files = [ROOT / "build.sbt", BENCH_DIR / "build.sbt"]
    for proj in (ROOT / "project", BENCH_DIR / "project"):
        files += sorted(p for p in proj.glob("*") if p.is_file())
    for src in (ROOT / "src" / "main", BENCH_DIR / "src" / "main"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    return files


def classpath():
    """Compile program and benchmark with sbt once per source state and
    return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise BenchError(f"no program sources next to the benchmark (looked in {ROOT})")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    cache = build_dir() / "nelbench-classpath.txt"
    if cache.is_file():
        cached_stamp, _, cp = cache.read_text().partition("\n")
        if cached_stamp == stamp and all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    log("building program and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise BenchError("sbt build failed")
    cp = lines[-1].strip()
    cache.write_text(stamp + "\n" + cp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def foreign_jvms_over_1gb():
    """Java processes above 1 GB resident, the idle test of scripts/scaling_pair.sh."""
    n = 0
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            if "java" not in (p / "comm").read_text():
                continue
            for line in (p / "status").read_text().splitlines():
                if line.startswith("VmRSS:") and int(line.split()[1]) > 1048576:
                    n += 1
        except (OSError, ValueError):
            continue
    return n


def meminfo_mb(key):
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1]) / 1024.0
    return float("nan")


def machine_stamp():
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "mem_free_mb": round(meminfo_mb("MemFree"), 1),
        "mem_available_mb": round(meminfo_mb("MemAvailable"), 1),
        "heap": HEAP,
    }


def jvm_command(cp, work, workload, seed, seconds, trace, record):
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [str(java), f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-XX:ErrorFile={work / 'hs_err_pid%p.log'}",
           f"-XX:ReplayDataFile={work / 'replay_pid%p.log'}"]
    for mod in ADD_OPENS:
        cmd += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "nelbench.Bench", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", str(work), "--out", str(work / "outcome.json"),
            "--tables", str(BENCH_DIR / "data" / "sf0.01"),
            "--expected", str(BENCH_DIR / "query_hashes.json")]
    if trace:
        spans = build_dir() / "spans"
        spans.mkdir(exist_ok=True)
        cmd += ["--spans", str(spans / f"{workload}-seed{seed}.jsonl")]
    if record:
        cmd += ["--record", str(Path(record).resolve())]
    return cmd


def run_jvm(cp, workload, seed, seconds, trace, record=None):
    """Run one workload in a fresh JVM. A JVM that dies of a fatal error of
    its own (an hs_err report, e.g. a JIT compiler crash) is started once
    more; any other failure ends the run."""
    deadline = time.time() + JVM_TIMEOUT_S
    stamp = machine_stamp()
    foreign_before = foreign_jvms_over_1gb()
    log_file = build_dir() / f"{workload}-seed{seed}-trace{trace}.log"
    work = build_dir() / "run" / f"{workload}-{os.getpid()}"
    crashes = 0
    while True:
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        try:
            with open(log_file, "w") as lf:
                proc = subprocess.Popen(jvm_command(cp, work, workload, seed, seconds, trace, record),
                                        cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                        start_new_session=True)
                try:
                    rc = proc.wait(timeout=max(1.0, deadline - time.time()))
                finally:
                    if proc.poll() is None:
                        os.killpg(proc.pid, signal.SIGKILL)
                        proc.wait()
            out_file = work / "outcome.json"
            if rc == 0 and out_file.is_file():
                outcome = json.loads(out_file.read_text())
                break
            fatal = any(work.glob("hs_err_pid*.log"))
        except subprocess.TimeoutExpired:
            raise BenchError(f"{workload} did not finish within {JVM_TIMEOUT_S}s (log: {log_file})")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write(log_file.read_text()[-4000:])
        if not fatal or crashes >= 1:
            raise BenchError(f"{workload} JVM exited with {rc} (log: {log_file})")
        crashes += 1
        log(f"{workload}: the JVM died of a fatal error; starting it once more")
    stamp["jvm_fatal_errors"] = crashes
    stamp["foreign_jvm_over_1gb"] = max(foreign_before, foreign_jvms_over_1gb())
    stamp["noisy"] = stamp["foreign_jvm_over_1gb"] > 0
    return outcome, stamp


def report(spec, workload, trace, outcome, stamp):
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in (spec["per_layer"] if trace else spec["end_to_end"])]
    got = outcome["metrics"]
    metrics = {}
    for name in wanted:
        if name in got and got[name] is not None:
            value = got[name]
        elif trace and not name.startswith(OWNED[workload]):
            value = 0.0
        else:
            raise BenchError(f"{workload} did not report {name}")
        metrics[name] = {"value": value, "unit": units[name]}
    context = dict(outcome["context"], **stamp, named=outcome["named"],
                   failures=outcome["failures"])
    print(json.dumps({"context": context}), flush=True)
    result = {
        "correct": outcome["failed"] == 0 and outcome["attempted"] > 0,
        "attempted": outcome["attempted"],
        "failed": outcome["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return context, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-hashes", metavar="FILE",
                    help="query-surface only: write the observed result hashes to FILE "
                         "instead of checking them")
    args = ap.parse_args()
    try:
        spec_path = ROOT / "BENCHMARK.json"
        if not spec_path.is_file():
            raise BenchError(f"{spec_path} not found")
        spec = json.loads(spec_path.read_text())
        cp = classpath()
        names = WORKLOADS if args.workload == "all" else [args.workload]
        rows = []
        for w in names:
            outcome, stamp = run_jvm(cp, w, args.seed, args.seconds, args.trace,
                                     args.record_hashes)
            rows.append((w,) + report(spec, w, args.trace, outcome, stamp))
        if args.workload == "all":
            summary(rows)
    except (BenchError, subprocess.TimeoutExpired, OSError, ValueError, KeyError) as e:
        log(f"error: {e}")
        sys.exit(1)


def summary(rows):
    """`--workload all`: a table of every metric to stderr, then one result
    line whose metric names are prefixed with the workload."""
    metrics = {}
    for w, ctx, res in rows:
        for k, v in list(res["metrics"].items()) + list(ctx.get("named", {}).items()):
            metrics[f"{w}.{k}"] = v
            if ctx["trace"] == 0 or k.startswith(OWNED[w]):
                log(f"{w:14s} {k:44s} {v['value']:>14.6g} {v['unit']}")
        log(f"{w:14s} {'checks passed':44s} {res['attempted'] - res['failed']:>8d} of {res['attempted']}")
    print(json.dumps({
        "correct": all(r[2]["correct"] for r in rows),
        "attempted": sum(r[2]["attempted"] for r in rows),
        "failed": sum(r[2]["failed"] for r in rows),
        "metrics": metrics,
    }), flush=True)


if __name__ == "__main__":
    main()

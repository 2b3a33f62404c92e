#!/usr/bin/env python3
"""Order-alternating A/B of a base commit against this checkout on one nelbench workload.

Usage (from anywhere inside the checkout):

    python3 scripts/ab.py BASE --workload er-resume --seed 1 --pairs 10
    python3 scripts/ab.py HEAD~1 --workload er-hot --seed 3 --pairs 3 --seconds 4

BASE (any git revision) is exported with `git archive` into a directory
outside the checkout (`--workdir`, default under the system temp dir),
named by its commit, so later calls reuse it and its build. The change is
the checkout's working tree, uncommitted edits included. Each side is
built once, then every run is one `nelbench/run.py --trace 0` call, one
JVM, with the same seed and run length on both sides. Pair i runs the base
first when i is even and the change first when i is odd.

For each end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the change's wins (ties count for neither side) and the
median ratio against the metric's bound. A metric reads "faster" (a time)
or "better" only when the change wins at least 9 of every 10 pairs and the
medians differ by more than the base's interquartile range; otherwise it
reads "within noise", or "worse than bound" when the change's median is
worse than the base's by more than the bound. The last line is one JSON
object with every run.

With --trace-diff it also makes one `--trace 1` run per side and prints,
for each traced stage, the base and change values of the counters that do
not depend on host noise: `jobs`, `shuffle_write_mb`, `max_task_records`
and `rows_out`. --pairs may then be 0, for the trace diff alone:

    python3 scripts/ab.py HEAD~1 --workload er-hot --seed 3 --pairs 0 --trace-diff

Exits 1 if any run fails a check, reports `correct: false` or does not
finish; nothing under nelbench/ is edited.
"""

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def git(*args):
    return subprocess.run(["git", *args], cwd=REPO, check=True, capture_output=True,
                          text=True).stdout.strip()


def export_base(rev, workdir):
    """The base commit's files in `workdir/<sha>`, exported once."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    side = workdir / sha[:12]
    if not (side / "nelbench" / "run.py").is_file():
        side.mkdir(parents=True, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", "--format=tar", sha], cwd=REPO,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(side)], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {sha} failed")
    return sha, side


def build(side):
    """Compile one side through nelbench's own cached build step (-B: no
    bytecode cache is left under nelbench/)."""
    code = "import sys; sys.path.insert(0, 'nelbench'); import run; run.classpath()"
    subprocess.run([sys.executable, "-B", "-c", code], cwd=side, check=True)


# traced counters that repeat exactly from run to run (no timings)
TRACE_COUNTERS = ("jobs", "shuffle_write_mb", "max_task_records", "rows_out")


def run_once(side, workload, seed, seconds, trace=False):
    proc = subprocess.run(
        [sys.executable, "nelbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1" if trace else "0"],
        cwd=side, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"run.py exited with {proc.returncode} in {side}")
    context = json.loads(lines[-2])["context"]
    result = json.loads(lines[-1])
    return {
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "correct": result["correct"],
        "failures": context.get("failures", []),
        "noisy": context.get("noisy"),
        "loadavg": context.get("loadavg"),
    }


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(base, change, better, bound, unit):
    """Wins of the change, and the §8-style reading of one metric."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for b, c in zip(base, change) if sign * (b - c) > 0)
    bq1, bmed, bq3 = quartiles(base)
    _, cmed, _ = quartiles(change)
    gain = sign * (bmed - cmed)
    if 10 * wins >= 9 * len(base) and gain > bq3 - bq1:
        word = "faster" if unit == "s" else "better"
    elif -gain > bound * abs(bmed):
        word = "worse than bound"
    else:
        word = "within noise"
    return wins, word


def trace_diff(base, change):
    """{stage: {counter: [base, change]}} over the traced stages' counters."""
    diff = {}
    for side, metrics in enumerate((base, change)):
        for name, value in metrics.items():
            stage, _, counter = name.rpartition(".")
            if counter in TRACE_COUNTERS:
                diff.setdefault(stage, {}).setdefault(counter, [None, None])[side] = value
    return diff


def fmt(v):
    return "-" if v is None else f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", help="git revision of the base side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True,
                    help="timed pairs; 0 runs only the --trace-diff runs")
    ap.add_argument("--trace-diff", action="store_true",
                    help="also diff the counters of one traced run per side")
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--workdir", type=Path,
                    default=Path(tempfile.gettempdir()) / "nelspark-ab",
                    help="where the base is exported (outside the checkout)")
    args = ap.parse_args()
    if args.pairs < 1 and not args.trace_diff:
        raise SystemExit("--pairs 0 needs --trace-diff")
    workdir = args.workdir.resolve()
    if workdir == REPO or REPO in workdir.parents:
        raise SystemExit("--workdir must be outside the checkout")

    sha, base_dir = export_base(args.base, workdir)
    sides = {"base": base_dir, "change": REPO}
    for name, side in sides.items():
        log(f"building {name} ({side})")
        build(side)

    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    runs = {"base": [], "change": []}
    failed = []
    for i in range(args.pairs):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        for name in order:
            try:
                r = run_once(sides[name], args.workload, args.seed, args.seconds)
            except RuntimeError as e:
                r = {"metrics": {}, "correct": False, "failures": [str(e)]}
            runs[name].append(r)
            shown = ", ".join(f"{k} {v:.4g}" for k, v in r["metrics"].items())
            log(f"pair {i + 1}/{args.pairs} {name}: {shown} correct={r['correct']}")
            if not r["correct"]:
                failed.append((name, i + 1, r["failures"]))
        if failed:
            break

    traced = {}
    if args.trace_diff and not failed:
        for name in ("base", "change"):
            try:
                r = run_once(sides[name], args.workload, args.seed, args.seconds, trace=True)
            except RuntimeError as e:
                r = {"metrics": {}, "correct": False, "failures": [str(e)]}
            traced[name] = r
            log(f"traced {name}: correct={r['correct']}")
            if not r["correct"]:
                failed.append((name, "trace", r["failures"]))

    diff = {}
    if traced and not failed:
        diff = trace_diff(traced["base"]["metrics"], traced["change"]["metrics"])
        print(f"{args.workload} seed {args.seed}, one traced run per side, base {sha[:12]} vs "
              f"working tree; base -> change")
        print(f"  {'stage':28s}" + "".join(f"{c:>24s}" for c in TRACE_COUNTERS))
        for stage, counters in diff.items():
            cells = (counters.get(c, [None, None]) for c in TRACE_COUNTERS)
            print(f"  {stage:28s}" +
                  "".join(f"{fmt(b) + ' -> ' + fmt(c):>24s}" for b, c in cells))
    summary = {}
    if args.pairs and not failed:
        print(f"{args.workload} seed {args.seed}, {args.pairs} pairs, base {sha[:12]} vs "
              f"working tree; median [q1, q3]")
        for m in spec["end_to_end"]:
            name = m["name"]
            b = [r["metrics"][name] for r in runs["base"]]
            c = [r["metrics"][name] for r in runs["change"]]
            wins, word = verdict(b, c, m["better"], m["bound"], m["unit"])
            bq, cq = quartiles(b), quartiles(c)
            ratio = cq[1] / bq[1] if bq[1] else float("nan")
            print(f"  {name:12s} base {bq[1]:9.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
                  f"change {cq[1]:9.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
                  f"change/base {ratio:.3f} (bound {m['bound']})  "
                  f"change wins {wins}/{len(b)}: {word}")
            summary[name] = {"base": b, "change": c, "wins": wins, "verdict": word}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "pairs": args.pairs,
                      "seconds": args.seconds, "base": sha, "metrics": summary,
                      "runs": runs, "trace_diff": diff, "failed": failed}))
    if failed:
        for name, pair, failures in failed:
            log(f"FAILED: {name} run {pair}: {failures}")
        sys.exit(1)


if __name__ == "__main__":
    main()

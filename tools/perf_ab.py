#!/usr/bin/env python3
"""Paired A/B runs of the repository benchmark: a base commit against the
working tree, in alternating order, with the same command on both sides.

Run from the repository root:

    python3 tools/perf_ab.py --workload f1_etl --seeds 21-30
    python3 tools/perf_ab.py --workload lakehouse_ops --seeds 5,6,7 --base HEAD~1

Each pair runs the BENCHMARK.json command, `python3 perfbench/run.py
--workload W --seed S --seconds X --trace 0`, once in a checkout of the
base commit (extracted with `git archive`: the committed files only, as
the benchmark itself runs them) and once in the working tree, the base
first in even pairs and the working tree first in odd ones. It prints, per
end-to-end metric of BENCHMARK.json, each side's median and quartiles, the
median difference and how many pairs the working tree won; then one line
per run with its cycle counts (the record's `kinds`), `peak_rss_mb` and
`steal_share`. The tool only invokes perfbench/run.py and changes nothing
under perfbench/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 1200  # the first run of a checkout also builds it


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          stdout=subprocess.PIPE, text=True).stdout.strip()


def base_checkout(rev, work):
    """The committed files of `rev` under `work`, extracted once and
    reused (with their perfbench build) while the commit is the same."""
    commit = git("rev-parse", rev)
    path = os.path.join(work, "base")
    stamp = os.path.join(path, ".perf_ab_commit")
    if os.path.exists(stamp) and open(stamp).read() == commit:
        return path, commit
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", commit],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", path], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        raise SystemExit(f"perf_ab: git archive {commit} failed")
    with open(stamp, "w") as f:
        f.write(commit)
    return path, commit


def run_once(checkout, workload, seed, seconds):
    cmd = ["python3", "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True,
                       timeout=RUN_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        return {"error": f"exit {p.returncode}", "wall_s": time.time() - t0}
    record = json.loads(lines[-2])["record"]
    result = json.loads(lines[-1])
    return {
        "correct": result["correct"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "kinds": {k: v["n"] for k, v in record.get("kinds", {}).items()},
        "steal_share": record.get("steal_share"),
        "wall_s": time.time() - t0,
    }


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs, metrics):
    """Per metric: each side's (q1, median, q3), the median of the paired
    differences and the working tree's wins (ties are not wins)."""
    ok = [r for r in runs if "error" not in r["base"]
          and "error" not in r["change"]]
    out = []
    for m in metrics:
        name, better = m["name"], m["better"]
        a = [r["base"]["metrics"][name] for r in ok]
        b = [r["change"]["metrics"][name] for r in ok]
        if not a:
            continue
        wins = sum(1 for x, y in zip(a, b)
                   if (y < x if better == "lower" else y > x))
        out.append({"metric": name, "better": better, "pairs": len(a),
                    "base": quartiles(a), "change": quartiles(b),
                    "median_diff": statistics.median(
                        [y - x for x, y in zip(a, b)]),
                    "wins": wins})
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="one seed per pair: '21-30' or '3,5,8'")
    ap.add_argument("--base", default="HEAD",
                    help="the commit to compare against (default HEAD)")
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--work", default=None,
                    help="where the base checkout goes (default: a new "
                         "temporary directory); reused across calls")
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    work = a.work or tempfile.mkdtemp(prefix="perf_ab_")
    os.makedirs(work, exist_ok=True)
    base, commit = base_checkout(a.base, work)
    sides = {"base": base, "change": ROOT}
    runs = []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {"pair": i, "seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(sides[side], a.workload, seed, seconds)
            r = pair[side]
            sys.stderr.write(
                f"[perf_ab] pair {i} seed {seed} {side}: "
                + (r["error"] if "error" in r else
                   f"correct={r['correct']} " + " ".join(
                       f"{k}={v:.4g}" for k, v in sorted(r["metrics"].items())))
                + f" ({r['wall_s']:.0f} s)\n")
        runs.append(pair)
    table = summarize(runs, bench["end_to_end"])
    print(f"workload {a.workload}: base {commit[:12]} vs working tree, "
          f"{len(runs)} pairs, --seconds {seconds:g} --trace 0")
    print(f"{'metric':<12} {'base q1/median/q3':>26} "
          f"{'change q1/median/q3':>26} {'median diff':>12} {'wins':>6}")
    for t in table:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{t['metric']:<12} {fmt(t['base']):>26} {fmt(t['change']):>26} "
              f"{t['median_diff']:>+12.4g} {t['wins']:>3}/{t['pairs']}")
    print("pair seed side   first  correct  op_p50_s  peak_rss_mb  "
          "steal_share  cycles(kinds)")
    for r in runs:
        for side in ("base", "change"):
            x = r[side]
            if "error" in x:
                print(f"{r['pair']:>4} {r['seed']:>4} {side:<6} "
                      f"{r['first'] == side!s:<6} {x['error']}")
                continue
            m = x["metrics"]
            print(f"{r['pair']:>4} {r['seed']:>4} {side:<6} "
                  f"{r['first'] == side!s:<6} {x['correct']!s:<8} "
                  f"{m.get('op_p50_s', 0):>8.3f} {m.get('peak_rss_mb', 0):>12.0f} "
                  f"{x['steal_share'] or 0:>12.3f}  {json.dumps(x['kinds'])}")


if __name__ == "__main__":
    main()

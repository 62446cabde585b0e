#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: the F1 star-schema ETL, the
corpus queries and the txlog lakehouse, each as one seeded workload.

Run from the repository root:

    python3 perfbench/run.py --workload f1_etl --seed 1 --seconds 5 --trace 0

It builds the engine and the benchmark driver from source (once per
checkout), generates the workload's inputs from the seed, runs the driver
in a closed loop that starts whole cycles of operations while the given
seconds have not passed, checks every operation's result,
and prints one run record line and then, as the last line, the result:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
`--trace 0` reports the end-to-end metrics, `--trace 1` (a separate run
with spans, job tags and a Spark listener) the per-layer ones. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# --- workload sizes -------------------------------------------------------
F1_BASE_RACES = 24         # x 20 drivers x 25 laps = 12,000 lap rows (+3%)
F1_DAYS, F1_RACES_PER_DAY = 8, 1
LH_BASE_ROWS, LH_OPS, LH_BATCH_ROWS = 20000, 116, 200  # 4 blocks of 29
CORPUS_SF = 0.001          # lineitem 6,000 rows
# Set-ups per run. One f1_etl set-up is the first, cold build (~20 s on
# 4 cores); repeating it would double the run. A corpus_queries set-up
# costs ~2.5 s warm; a comparison runs each workload tens of times, and
# one hour must hold all of them.
SETUP_REPS = {"f1_etl": 1, "lakehouse_ops": 3, "corpus_queries": 1}

WORKLOADS = ["f1_etl", "lakehouse_ops", "corpus_queries"]

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_mean_s": ("s", "lower"),
    "ok_frac": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

STAR_TABLES = ["CircuitLocation", "DateDimension", "LocationDimension",
               "StatusDimension", "Driver", "Team", "Race", "TimeDimension",
               "Sprint", "FreePractice", "Qualification", "Laps", "PitStop",
               "Results", "DriverStandings", "TeamStandings"]
QUERY_MODULES = ["RefQueries", "TextQueries", "VectorQueries",
                 "EventQueries", "StreamQueries", "AnalyticsQueries",
                 "ExtQueries"]
TXLOG_KINDS = ["append", "upsert", "delete", "read", "read_at",
               "change_feed", "optimize", "checkpoint"]
COMMIT_KINDS = {"append", "upsert", "merge", "delete", "sql_delete",
                "optimize", "checkpoint"}
READ_KINDS = {"read", "read_at", "change_feed"}
# The operations op_p50_s is the median of: what the workload's user waits
# for most often. op_mean_s covers every operation.
PRIMARY = {"f1_etl": {"drop"}, "lakehouse_ops": {"read"},
           "corpus_queries": {"query"}}


def _layer_metrics():
    """Per-layer metrics: (name, unit, better, workload, the end-to-end
    figure it should move)."""
    f1, lh, cq, every = "f1_etl", "lakehouse_ops", "corpus_queries", "all"
    m = [
        ("etl_build_s", "s", "lower", f1, "op_mean_s"),
        ("etl_drop_s", "s", "lower", f1, "op_p50_s"),
        ("commit_p50_s", "s", "lower", lh, "op_mean_s"),
        ("commit_p90_s", "s", "lower", lh, "op_mean_s"),
        ("read_p50_s", "s", "lower", lh, "op_p50_s"),
        ("read_p90_s", "s", "lower", lh, "op_mean_s"),
        ("write_amp", "ratio", "lower", lh, "op_mean_s"),
        ("failed_frac", "ratio", "lower", every, "ok_frac"),
        ("etl.scan_amplification", "ratio", "lower", f1, "etl_build_s"),
        ("core.Tables.csv_bytes_read", "bytes", "lower", f1, "etl_build_s"),
    ]
    m += [(f"core.Sinks.parquet_s.{t}", "s", "lower", f1, "etl_build_s")
          for t in STAR_TABLES]
    m += [
        ("core.Sinks.jobs", "count", "lower", f1, "etl_build_s"),
        ("core.Sinks.shuffle_write_bytes", "bytes", "lower", f1, "etl_build_s"),
        ("core.Sinks.output_bytes", "bytes", "lower", f1, "etl_build_s"),
        ("etl.F1Pipeline.buildAll_s", "s", "lower", f1, "etl_build_s"),
        ("etl.F1Pipeline.buildAll_jobs", "count", "lower", f1, "etl_build_s"),
        ("etl.F1Pipeline.runIncremental_s", "s", "lower", f1, "etl_drop_s"),
        ("etl.drop_rows_appended_ratio", "ratio", "higher", f1, "etl_drop_s"),
        ("etl.cached_bytes_after", "bytes", "lower", f1, "peak_rss_mb"),
    ]
    for k in TXLOG_KINDS:
        moves = "read_p50_s" if k in READ_KINDS else "commit_p50_s"
        m += [(f"core.TxLog.{k}_s", "s", "lower", lh, moves),
              (f"core.TxLog.{k}_jobs", "count", "lower", lh, moves)]
    for k in ["merge", "delete"]:
        m += [(f"plans.TxLogDml.{k}_s", "s", "lower", lh, "commit_p50_s"),
              (f"plans.TxLogDml.{k}_jobs", "count", "lower", lh, "commit_p50_s")]
    m += [
        ("core.TxLog.snapshot_s", "s", "lower", lh, "commit_p50_s read_p50_s"),
        ("core.TxLog.log_versions", "count", "higher", lh,
         "commit_p50_s read_p50_s"),
        ("core.TxLog.live_files", "count", "lower", lh, "read_p50_s write_amp"),
        ("core.TxLog.files_written", "count", "lower", lh,
         "read_p50_s write_amp"),
        ("core.TxLog.bytes_written", "bytes", "lower", lh,
         "read_p50_s write_amp"),
        ("trace.uncovered_share", "ratio", "lower", every, "-"),
    ]
    m += [(f"trace.self_share.{g}", "ratio", "lower", every, "-")
          for g in ["op", "bench", "etl", "core.Tables", "core.Sinks",
                    "core.TxLog", "plans.TxLogDml"]]
    m += [
        ("trace.spans", "count", "higher", every, "-"),
        ("trace.op_p50_s", "s", "lower", every, "op_p50_s"),
    ]
    m += [("query_p50_s", "s", "lower", cq, "op_p50_s"),
          ("query_p90_s", "s", "lower", cq, "op_mean_s")]
    for f in QUERY_MODULES:
        m += [(f"queries.{f}.{ph}_{u}", unit, "lower", cq, "query_p50_s")
              for ph in ("construct", "execute")
              for u, unit in (("s", "s"), ("jobs", "count"))]
    m += [(f"queries.{k}", unit, "lower", cq, "query_p90_s") for k, unit in [
        ("plan_s", "s"), ("stages", "count"), ("tasks", "count"),
        ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("input_bytes", "bytes"), ("gc_s", "s")]]
    m += [("trace.self_share.queries", "ratio", "lower", cq, "-")]
    return m


LAYER_METRICS = _layer_metrics()


# --- statistics -------------------------------------------------------------

def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of the samples at or below it."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def beyond(n, q):
    """How many of n samples lie above the nearest-rank q-percentile."""
    return n - max(1, math.ceil(q * n)) if n else 0


def tail_percentile(n):
    """The highest of the usual percentiles with at least ten samples
    beyond it (None when even the median has fewer)."""
    for q in (0.99, 0.95, 0.9, 0.75, 0.5):
        if beyond(n, q) >= 10:
            return q
    return None


# --- checking ---------------------------------------------------------------

def _build_errors(o, exp):
    """What is wrong with a full build's observed tables."""
    build, cap = exp["build"], exp["laps_cap"]
    if "error" in o:
        return [o["error"]]
    why = [f"{t} rows {o['tables'][t]} != {build[t]}" for t in STAR_TABLES
           if o["tables"][t] != build[t]]
    if o["tables"]["Laps"] > cap:
        why.append("Laps over its row cap")
    p = o["pits"]
    if not (p["min"] == 1 and p["max"] == p["count"] == p["distinct"]
            == build["PitStop"]):
        why.append(f"pitsId not contiguous 1..N: {p}")
    return why


def judge_f1(samples, exp, setup_build):
    """Mark each ETL sample ok or not against the generator's knowledge;
    return what is wrong with the set-up's build (None when nothing)."""
    for s in samples:
        if s["error"]:
            continue
        o = s["obs"]
        if s["kind"] == "build":
            why = _build_errors(o, exp)
        else:
            why = []
            want = (exp["drops"][o["day"]]["appended"] if s["kind"] == "drop"
                    else {t: 0 for t in STAR_TABLES})
            for t in STAR_TABLES:
                if o["appended"].get(t, 0) != want[t]:
                    why.append(f"{t} appended {o['appended'].get(t, 0)} "
                               f"!= {want[t]}")
        if why:
            s["error"] = "wrong result: " + "; ".join(why)
    why = _build_errors(setup_build, exp)
    return "wrong set-up build: " + "; ".join(why) if why else None


def judge_lakehouse(samples, sched, final):
    exp = sched["expected"]
    for s in samples:
        if s["error"] or s["kind"] not in READ_KINDS:
            continue
        o = s["obs"]
        if s["kind"] == "change_feed":
            to_n, to_s = exp[o["expect"]]
            fr_n, fr_s = exp[o["from"]] if o["from"] >= 0 else (0, 0)
            types = o["types"]
            unknown = set(types) - {"insert", "delete"}
            ins = types.get("insert", {"n": 0, "sum": 0})
            dele = types.get("delete", {"n": 0, "sum": 0})
            got = (ins["n"] - dele["n"], ins["sum"] - dele["sum"])
            if unknown or got != (to_n - fr_n, to_s - fr_s):
                s["error"] = (f"wrong result: net change {got} != "
                              f"{(to_n - fr_n, to_s - fr_s)} {sorted(unknown)}")
        elif [o["n"], o["sum"]] != list(exp[o["expect"]]):
            s["error"] = (f"wrong result: (rows, checksum) ({o['n']}, "
                          f"{o['sum']}) != {tuple(exp[o['expect']])}")
    # the table after the last operation, read once more untimed
    got, want = [final["n"], final["sum"]], list(exp[final["expect"]])
    return None if got == want else f"wrong final table: {got} != {want}"


def compare_frames(got, want):
    """None when two result frames agree exactly (columns by name, rows in
    order), else the first difference."""
    import pandas as pd
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    got = got[cols].reset_index(drop=True)
    want = want[cols].reset_index(drop=True)
    for c in cols:
        a, b = got[c], want[c]
        for i in range(len(a)):
            x, y = a.iloc[i], b.iloc[i]
            nx = x is None or (not hasattr(x, "__len__") and pd.isna(x))
            ny = y is None or (not hasattr(y, "__len__") and pd.isna(y))
            if nx and ny:
                continue
            if nx != ny:
                return f"{c}[{i}]: {x!r} != {y!r}"
            if hasattr(x, "__len__") and not isinstance(x, str):
                if list(x) != list(y):
                    return f"{c}[{i}]: {x!r} != {y!r}"
            elif x != y:
                return f"{c}[{i}]: {x!r} != {y!r}"
    return None


def judge_corpus(samples, corpus_dir, results_dir, oracle):
    """Check each query's first result against its DuckDB oracle over the
    same corpus, and every later repetition against the first by digest."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(corpus_dir, t + '.parquet')}'")
    verdict, first_digest = {}, {}
    for s in samples:
        if s["error"]:
            continue
        q = s["name"]
        if q not in verdict:
            path = os.path.join(results_dir, q)
            try:
                got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
                want = con.sql(oracle[q]).df()  # KeyError: no oracle
                diff = compare_frames(got, want)
                verdict[q] = f"oracle mismatch: {diff}" if diff else None
            except Exception as e:  # an oracle that cannot run is a failure
                verdict[q] = f"oracle check failed: {str(e)[:200]}"
            first_digest[q] = s["obs"]["digest"]
        if verdict[q]:
            s["error"] = "wrong result: " + verdict[q]
        elif s["obs"]["digest"] != first_digest[q]:
            s["error"] = "wrong result: repetition differs from first result"


# --- metrics ------------------------------------------------------------------

def workload_metrics(workload, samples, rec, attempted, failed):
    """The figures particular to one workload (failed samples included:
    they took the time they took)."""
    secs = lambda kinds: [s["seconds"] for s in samples if s["kind"] in kinds]
    m = {"failed_frac": failed / attempted}
    if workload == "f1_etl":
        m["etl_build_s"] = median(secs({"build"}) + [rec["etl.setup_build_s"]])
        m["etl_drop_s"] = median(secs({"drop"}))
    elif workload == "corpus_queries":
        q = secs({"query"})
        m["query_p50_s"] = median(q)
        m["query_p90_s"] = percentile(q, 0.9)
    else:
        c, r = secs(COMMIT_KINDS), secs(READ_KINDS)
        m["commit_p50_s"], m["commit_p90_s"] = median(c), percentile(c, 0.9)
        m["read_p50_s"], m["read_p90_s"] = median(r), percentile(r, 0.9)
        m["write_amp"] = (rec["lakehouse.table_bytes_written"] /
                          max(1, rec["lakehouse.submitted_bytes"]))
    return m


def primary_p50(workload, samples):
    return median([s["seconds"] for s in samples
                   if s["kind"] in PRIMARY[workload]])


def end_to_end(workload, samples, setup, rec, attempted, failed):
    secs = [s["seconds"] for s in samples]
    return {
        "setup_s": median(setup),
        "op_p50_s": primary_p50(workload, samples),
        "op_mean_s": sum(secs) / max(1, len(secs)),
        "ok_frac": 1.0 - failed / attempted,
        "peak_rss_mb": rec["peak_rss_mb"],
    }


# --- build and run ----------------------------------------------------------

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def _newest_mtime(paths):
    newest = 0.0
    for top in paths:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile engine + driver with sbt once; later runs reuse the
    classpath until a source changes."""
    sources = [ENGINE_SRC, os.path.join(ROOT, "build.sbt"),
               os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")]
    if (os.path.exists(CLASSPATH)
            and os.path.getmtime(CLASSPATH) >= _newest_mtime(sources)):
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Xmx2g"))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], cwd=HERE, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines()
             if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def generate(workload, seed, work):
    import gen
    inputs = {}
    if workload == "f1_etl":
        e = gen.gen_f1(seed, F1_BASE_RACES, F1_DAYS, F1_RACES_PER_DAY,
                       os.path.join(work, "f1"))
        inputs = {"csv_rows": e["csv_rows"], "csv_bytes": e["csv_bytes"],
                  "drops": len(e["drops"])}
    elif workload == "corpus_queries":
        rows = gen.gen_corpus(seed, CORPUS_SF, os.path.join(work, "corpus"))
        inputs = {"sf": CORPUS_SF, "lineitem_rows": rows["lineitem"]}
    else:
        gen.gen_lakehouse(seed, LH_BASE_ROWS, LH_OPS, LH_BATCH_ROWS,
                          os.path.join(work, "lh"))
        inputs = {"base_rows": LH_BASE_ROWS, "scheduled_ops": LH_OPS,
                  "batch_rows": LH_BATCH_ROWS}
    return inputs


def cpu_times():
    """The machine's cumulative (busy, steal) CPU ticks, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v) - v[3] - v[4], v[7]  # minus idle and iowait; steal


def run_driver(cp, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size, so that the resident set tracks the work done
    # rather than when the collector chose to grow the heap
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"] +
           [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp}", f"-Dgraft.scratch.dir={work}/scratch",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args)
    log = os.path.join(work, "driver.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             cwd=work)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: driver failed ({rc})")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) "
                         "not found; run from the repository root")
    cp = build()
    deadline = time.time() + RUN_TIMEOUT_S
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    sys.path.insert(0, HERE)
    t_build = time.time()
    inputs = generate(a.workload, a.seed, work)
    result = os.path.join(work, "result.json")
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    args = ["--workload", a.workload, "--work", work, "--seconds",
            str(a.seconds), "--seed", str(a.seed), "--trace", str(a.trace),
            "--setup-reps", str(SETUP_REPS[a.workload]), "--out", result]
    if a.trace:
        args += ["--spans", os.path.join(OUT, f"spans-{tag}.jsonl")]
    t_gen = time.time()
    busy0, steal0 = cpu_times()
    run_driver(cp, args, work, deadline)
    busy1, steal1 = cpu_times()
    t_driver = time.time()
    with open(result) as f:
        res = json.load(f)
    samples, rec = res["samples"], res["record"]
    # each workload checks one result outside the loop: f1_etl the
    # set-up's build, lakehouse_ops the final table
    extra_error = None
    if a.workload == "f1_etl":
        with open(os.path.join(work, "f1", "expected.json")) as f:
            extra_error = judge_f1(samples, json.load(f),
                                   rec["etl.setup_build"])
    elif a.workload == "corpus_queries":
        with open(os.path.join(work, "oracle.json")) as f:
            oracle = json.load(f)
        judge_corpus(samples, os.path.join(work, "corpus"),
                     os.path.join(work, "results"), oracle)
    else:
        with open(os.path.join(work, "lh", "schedule.json")) as f:
            extra_error = judge_lakehouse(samples, json.load(f),
                                          rec["lakehouse.final"])
    attempted = len(samples) + (a.workload != "corpus_queries")
    failed = sum(1 for s in samples if s["error"]) + (extra_error is not None)
    wl = workload_metrics(a.workload, samples, rec, attempted, failed)
    # the untraced op_p50_s of this workload and seed, for the traced run
    baseline = os.path.join(OUT, f"untraced-{a.workload}-{a.seed}.json")
    overhead = None
    if a.trace:
        units = {name: unit for name, unit, _, _, _ in LAYER_METRICS}
        values = {k: 0.0 for k in units}
        values.update({k: v for k, v in res["layer"].items() if k in units})
        values.update({k: v for k, v in wl.items() if k in units})
        values["trace.op_p50_s"] = primary_p50(a.workload, samples)
        if os.path.exists(baseline):
            with open(baseline) as f:
                overhead = values["trace.op_p50_s"] / json.load(f)["op_p50_s"]
    else:
        values = end_to_end(a.workload, samples, res["setup_s"], rec,
                            attempted, failed)
        with open(baseline, "w") as f:
            json.dump(values, f)
        units = {k: END_TO_END[k][0] for k in END_TO_END}
    errors = sorted({s["error"][:160] for s in samples if s["error"]} |
                    ({extra_error[:160]} if extra_error else set()))
    by_kind = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s["seconds"])
    record = dict(rec, workload=a.workload, trace=a.trace,
                  seconds=a.seconds, inputs=inputs, setup_runs_s=res["setup_s"],
                  setup_parts_s=res["setup_parts_s"],
                  samples=len(samples), workload_metrics=wl,
                  kinds={k: {"n": len(v), "p50_s": median(v), "max_s": max(v)}
                         for k, v in sorted(by_kind.items())},
                  tail_percentile=tail_percentile(len(samples)),
                  # traced op_p50_s / untraced op_p50_s of the same seed
                  # (null without an untraced run of it in this checkout)
                  trace_overhead_ratio=overhead,
                  errors=errors[:20], wall_s=time.time() - t_start,
                  phases_s={"build": t_build - t_start, "generate": t_gen - t_build,
                            "driver": t_driver - t_gen,
                            "check": time.time() - t_driver},
                  # CPU time the hypervisor gave to others while the driver
                  # ran, as a share of the busy time: the box's noise marker
                  steal_share=(steal1 - steal0) / max(1, busy1 - busy0))
    with open(os.path.join(OUT, f"record-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units}}))


if __name__ == "__main__":
    main()

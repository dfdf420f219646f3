#!/usr/bin/env python3
"""Benchmark of the forex pipeline's daily run and of the query engine mix
(see README.md beside this file).

Run from the root of a checkout of the repository:

    python3 pipebench/run.py --workload daily_cron --seed 1 --seconds 5 --trace 0

It builds the program from source (once per source state), makes its inputs
from the seed, runs one benchmark JVM (set-up, timed operations, and truth
or oracle outputs), checks the outputs and prints one JSON result as the
last line of stdout.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything it writes stays under pipebench/work/ and the
build's own target directories.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(HERE, "work")
HARNESS = os.path.join(HERE, "harness")
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")

HISTORY_DAYS = 75       # > the gold model's 60-day lookback
PREPARED_OPS = 8        # more than a run of up to ~60 s can use
BACKFILL_DAYS = range(10, HISTORY_DAYS - 50)  # day D with D+49 inside history
# Operations a run makes however long they take; more do not fit the time
# budget (README.md).
MIN_OPS = {"daily_cron": 1, "backfill": 1}
DEADLINE_S = 160        # the JVM is killed past this, the run fails
# One query per family of SparkEntry.queries, so that every engine layer runs
# in each pass; the seed permutes the family order.
QUERY_FAMILIES = {
    "graph": "graph_triangles",
    "stream": "stream_ewma",
    "sketch": "kll_merge_days",
    "dedup": "simhash_signatures",
    "custom_op": "asof_join_native",
    "builtin_twin": "asof_join",
    "store": "merge_upsert",
    "forex": "fct_timeframes",
    "tpch": "q2_min_cost",
}

# Spark on JDK 17 outside spark-submit needs these; the same list as the
# javaOptions of the repository's build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

OP_SPANS = ["bronze.read", "forex.silver", "forex.gold", "quality.checks",
            "runner.report", "op"]
ONCE_SPANS = ["session.start", "setup.full_refresh"]
COUNTERS = {"s": "s", "jobs": "count", "tasks": "count", "files_read": "files",
            "bytes_read": "bytes", "shuffle_bytes": "bytes",
            "files_written": "files", "bytes_written": "bytes",
            "driver_gap_s": "s"}
QUERY_COUNTERS = ["s", "jobs", "tasks", "shuffle_bytes", "driver_gap_s"]


def per_layer_units() -> dict:
    """Every per-layer metric and its unit. Each workload reports all of them,
    0 for a layer it does not run."""
    out = {f"{n}.{c}": u for n in ONCE_SPANS + OP_SPANS for c, u in COUNTERS.items()}
    out.update({f"queries.{f}.{c}": COUNTERS[c] for f in QUERY_FAMILIES for c in QUERY_COUNTERS})
    out.update({"jvm.start.s": "s", "op.span_coverage": "ratio", "queries.query_s_p50": "s",
                "gold.rows_missing": "rows", "gold.rows_stale": "rows",
                "gold.rows_extra": "rows", "store.files_written_per_run": "files",
                "store.bytes_ratio": "ratio", "process.peak_rss_mb": "MB"})
    return out


def die(msg: str) -> None:
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def _source_stamp() -> str:
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for base in (ROOT, HARNESS):
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.properties"))
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        files += [os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build() -> str:
    """Compile program + harness with sbt; returns the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = f"-Xmx2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):  # resolve offline, from the pre-filled caches
        opts += (" -Dsbt.override.build.repos=true -Dsbt.offline=true"
                 f" -Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("/")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ------------------------------------------------------------------ inputs

def prepare_pipeline(workload: str, seed: int, run_dir: str) -> str:
    """Writes the history bronze and the prepared operations; returns ops.tsv."""
    bronze = os.path.join(run_dir, "bronze")
    prep = os.path.join(run_dir, "prepared")
    os.makedirs(prep)
    gen.write_days(seed, bronze, range(HISTORY_DAYS))
    events = os.path.join(bronze, "events.parquet")
    lines = []
    if workload == "daily_cron":
        for i in range(HISTORY_DAYS, HISTORY_DAYS + PREPARED_OPS):
            path = gen.write_day(gen.day_table(seed, i), prep, i)
            lines.append(f"{path}\t{os.path.join(events, gen.file_name(i))}\tdaily")
    else:
        rng = np.random.default_rng([seed, 99])
        for i in rng.choice(list(BACKFILL_DAYS), PREPARED_OPS, replace=False):
            i = int(i)
            path = gen.write_day(gen.restated_table(seed, i), prep, i)
            lines.append(f"{path}\t{os.path.join(events, gen.file_name(i))}\t{gen.day_date(i)}")
    ops = os.path.join(run_dir, "ops.tsv")
    with open(ops, "w") as f:
        f.write("\n".join(lines) + "\n")
    # the truth's bronze: the history as the first MIN_OPS operations leave it
    truth_events = os.path.join(run_dir, "truth_bronze", "events.parquet")
    shutil.copytree(events, truth_events)
    for line in lines[:MIN_OPS[workload]]:
        prepared, target, _ = line.split("\t")
        shutil.copy(prepared, os.path.join(truth_events, os.path.basename(target)))
    return ops


def query_order(seed: int) -> str:
    """QueryBench's query list: the families in a seeded order."""
    rng = np.random.default_rng([seed, 7])
    families = list(QUERY_FAMILIES)
    return ",".join(f"{families[i]}:{QUERY_FAMILIES[families[i]]}"
                    for i in rng.permutation(len(families)))


# ------------------------------------------------------------------ run

def run_jvm(classpath: str, main_class: str, args, traced: bool, run_dir: str,
            deadline: float):
    """Runs a benchmark main; returns ({tag: [(seconds since launch, payload)]},
    exit code, peak RSS in MB). Each "[bench] <tag> [json]" line is one event."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}"]
    if traced:
        cmd.append("-Dspark.extraListeners=pipebench.SpanListener")
    cmd += ["-cp", classpath, main_class, *args]
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                            stdin=subprocess.DEVNULL, text=True)
    watchdog = threading.Timer(max(1.0, deadline - time.time()), proc.kill)
    watchdog.start()
    events = {}
    try:
        for line in proc.stdout:
            if line.startswith("[bench] "):
                tag, _, rest = line[len("[bench] "):].strip().partition(" ")
                events.setdefault(tag, []).append(
                    (time.perf_counter() - t0, json.loads(rest) if rest else {}))
    finally:
        watchdog.cancel()
        _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
        log.close()
    return events, proc.returncode, usage.ru_maxrss / 1024.0


def jvm_failed(run_dir: str, rc: int, events: dict, needed) -> None:
    sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
    die(f"benchmark JVM failed (exit {rc}, events seen: "
        f"{ {t: len(events.get(t, [])) for t in needed} })")


def data_bytes(*dirs: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for top in dirs
               for d, _, fs in os.walk(top) for f in fs if f.endswith(".parquet"))


def footprint_ok(op: dict) -> bool:
    """A --date=D run may change only silver day D and gold days [D-1, D+49]."""
    d = np.datetime64(op["mode"])
    allowed = {f"stg_ticks/p_date={d}"} | {
        f"fct_timeframes/p_date={d + k}" for k in range(-1, 50)}
    return set(op["changed_dirs"]) <= allowed


def span_metrics(spans_path: str) -> dict:
    """Per-layer metrics from a spans file: each `<span>.<counter>` is the
    median of that counter over the span's records."""
    with open(spans_path) as f:
        by = {}
        for s in json.load(f)["spans"]:
            by.setdefault(s["name"], []).append(s)
    out = {}
    for name, unit in per_layer_units().items():
        span, _, counter = name.rpartition(".")
        if counter in by.get(span, [{}])[0]:
            out[name] = (statistics.median(s[counter] for s in by[span]), unit)
    # share of each operation's wall time that its layer spans account for
    cover = [sum(s["s"] for n in OP_SPANS[:-1] for s in by[n]
                 if op["start_ms"] <= s["start_ms"] <= op["end_ms"]) / op["s"]
             for op in by.get("op", []) if op["s"] > 0]
    out["op.span_coverage"] = (statistics.median(cover) if cover else 0, "ratio")
    return out


def run_pipeline(a, classpath: str, deadline: float, run_dir: str):
    """daily_cron / backfill: returns (correct, attempted, failed, metrics,
    peak RSS in MB)."""
    t0 = time.perf_counter()
    ops_file = prepare_pipeline(a.workload, a.seed, run_dir)
    gen_s = time.perf_counter() - t0

    wh, truth = os.path.join(run_dir, "warehouse"), os.path.join(run_dir, "truth")
    spans = os.path.join(run_dir, "spans.json")
    args = [os.path.join(run_dir, "bronze"), wh, os.path.join(run_dir, "truth_bronze"), truth,
            str(a.seconds), str(MIN_OPS[a.workload]), ops_file] + ([spans] if a.trace else [])
    ev, rc, rss = run_jvm(classpath, "pipebench.PipelineBench", args, bool(a.trace),
                          run_dir, deadline)
    needed = ["session", "setup", "op", "truth"]
    if rc != 0 or any(t not in ev for t in needed):
        jvm_failed(run_dir, rc, ev, needed)
    ops = [p for _, p in ev["op"]]

    failed = sum(1 for op in ops if op.get("failed")
                 or (a.workload == "backfill" and not footprint_ok(op)))
    silver = compare.silver_diff(wh, truth)
    gold = compare.gold_diff(wh, truth)
    correct = failed == 0 and silver == 0
    if a.workload == "backfill":
        correct = correct and gold["missing"] == gold["stale"] == gold["extra"] == 0

    good = [op for op in ops if not op.get("failed")] or [{"s": 0.0, "cpu_s": 0.0, "read_bytes": 0}]
    # set-up samples: the set-up's full refresh, cold, and the truth's, which
    # builds a warehouse from bronze the same way, warm
    setups = [ev["setup"][0][1]["s"], ev["truth"][0][1]["s"]]
    print(f"[pipebench] {a.workload} seed={a.seed} ops={len(ops)} "
          f"run_s={[op['s'] for op in good]} run_cpu_s={[op['cpu_s'] for op in good]} "
          f"full_refresh_s={setups} silver_rows_differing={silver} "
          f"gold_rows_missing={gold['missing']} gold_rows_stale={gold['stale']} "
          f"gold_rows_extra={gold['extra']} gold_rows_truth={gold['truth_rows']}")
    if a.trace:
        metrics = span_metrics(spans)
        for k in ("missing", "stale", "extra"):
            metrics[f"gold.rows_{k}"] = (gold[k], "rows")
        store_bytes = data_bytes(os.path.join(wh, "stg_ticks"), os.path.join(wh, "fct_timeframes"))
        metrics["store.files_written_per_run"] = (
            statistics.median(op["files_written"] for op in ops), "files")
        metrics["store.bytes_ratio"] = (
            store_bytes / data_bytes(os.path.join(run_dir, "bronze")), "ratio")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)  # kept for tracediff.py
        shutil.copy(spans, os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.json"))
    else:
        metrics = {
            "setup_s": (gen_s + ev["session"][0][0] + statistics.median(setups), "s"),
            "run_cpu_s": (statistics.median(op["cpu_s"] for op in good), "s"),
            "run_read_mb": (statistics.median(op["read_bytes"] / 1e6 for op in good), "MB"),
        }
    return correct, len(ops), failed, metrics, rss


def run_queries(a, classpath: str, deadline: float, run_dir: str):
    """query_mix: returns (correct, attempted, failed, metrics, peak RSS in MB)."""
    out = os.path.join(run_dir, "outputs")
    spans = os.path.join(run_dir, "spans.json")
    args = [QUERY_DATA, out, str(a.seconds), query_order(a.seed)] + ([spans] if a.trace else [])
    ev, rc, rss = run_jvm(classpath, "pipebench.QueryBench", args, bool(a.trace),
                          run_dir, deadline)
    needed = ["session", "ready", "q", "pass"]
    if rc != 0 or any(t not in ev for t in needed):
        jvm_failed(run_dir, rc, ev, needed)
    qs = [p for _, p in ev["q"]]
    passes = [p for _, p in ev["pass"]]

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    check_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_oracle)
    mismatched = compare.query_failures(check_oracle, QUERY_DATA, out)
    failed = sum(1 for q in qs if q.get("failed") or q["query"] in mismatched)
    correct = failed == 0 and not mismatched and len(qs) == len(passes) * len(QUERY_FAMILIES)

    query_s = [q["s"] for q in qs]
    print(f"[pipebench] query_mix seed={a.seed} passes={len(passes)} "
          f"pass_s={[p['s'] for p in passes]} pass_cpu_s={[p['cpu_s'] for p in passes]} "
          f"oracle_mismatches={mismatched or 0}")
    for q in qs:
        print(f"[pipebench]   pass {q['pass']} {q['family']:>12} {q['query']:<22} "
              f"{q['s']:.3f} s{'  FAILED ' + q['error'] if q.get('failed') else ''}")
    if a.trace:
        metrics = span_metrics(spans)
        metrics["queries.query_s_p50"] = (statistics.median(query_s), "s")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.json"))
    else:
        metrics = {
            "setup_s": (ev["ready"][0][0], "s"),
            "run_cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
            "run_read_mb": (statistics.median(p["read_bytes"] / 1e6 for p in passes), "MB"),
        }
    return correct, len(qs), failed, metrics, rss


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["daily_cron", "query_mix", "backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))):
        die("run from the root of a checkout of the repository "
            "(no build.sbt / src/main/scala / tools/check_oracle.py here)")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    deadline = time.time() + DEADLINE_S  # after the build, which may take minutes

    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run = run_queries if a.workload == "query_mix" else run_pipeline
    correct, attempted, failed, metrics, rss = run(a, classpath, deadline, run_dir)
    if a.trace:
        metrics["process.peak_rss_mb"] = (rss, "MB")
        for name, unit in per_layer_units().items():
            metrics.setdefault(name, (0, unit))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

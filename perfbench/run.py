#!/usr/bin/env python3
"""Benchmark for the graft query registry: three closed-loop workloads.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --self-test

Each run builds the program and the harness (once per source state),
generates the input tables from the seed, starts one JVM that runs the
workload's ops (see perfbench/README.md), checks every op's output against
DuckDB running the op's registered oracle SQL, and prints as its last line
one JSON object with `correct`, `attempted`, `failed` and `metrics`.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones from Spark's listeners.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Input scale: sf=0.01 is 60,000 lineitem rows, 10,000 events, 500
# documents and 500 embeddings.
SF = 0.01
# q1_pricing_summary (one scan, one aggregate) is the canary.
CANARY = "q1_pricing_summary"
DEADLINE_S = 170
JVM_HEAP = "3g"

# name -> (sink, timed passes at least, ops). The pass counts cover about
# 15 s on a 4-core box, so `--seconds 10` rarely adds a pass: a fixed count
# keeps a slow run from taking its median earlier on the JIT warm-up curve.
WORKLOADS = {
    # The reference's daily job: the whole pipeline DAG, a zip source and a
    # streaming bar job; each op's result is written as parquet.
    "etl_daily": ("parquet", 2, [
        "pipeline_e2e", "zip_ingest", "streaming_ohlc_hourly"]),
    # LLM data-prep operators on session-staged indexes, noop sink.
    "llm_corpus": ("noop", 5, ["dedup_minhash_lsh", "ann_topk_ivf2", "bm25_topk"]),
}

# Per-layer sums the harness attributes to each op (see Harness.scala).
LAYER_SUMS = [
    "construct_s", "construct_jobs",
    "analysis_s", "optimizer_s", "planning_s", "plan_nodes", "exchanges",
    "broadcasts", "codegen_compiles",
    "execute_s", "task_s", "jobs", "stages", "tasks", "failed_tasks",
    "task_cpu_s", "task_wait_s", "straggler_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "input_mb", "result_mb", "input_rows",
    "output_mb", "output_rows",
    "stream_batches", "stream_trigger_s", "stream_addbatch_s",
    "stream_commit_s", "stream_planning_s", "stream_offsets_s",
]
# graft.pipeline is reached through this op's construct call
PIPELINE_OP = "pipeline_e2e"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath.

    Skipped when no source or build file changed since the last build."""
    sources = [os.path.join(ROOT, "build.sbt")]
    for pat in ("src/main/**/*", "project/*.sbt", "project/*.properties",
                "perfbench/harness/**/*.sbt", "perfbench/harness/project/*.properties",
                "perfbench/harness/src/**/*"):
        sources += [p for p in glob.glob(os.path.join(ROOT, pat), recursive=True)
                    if os.path.isfile(p)]
    stamp = _tree_hash(sources)
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, capture_output=True,
        text=True, timeout=880)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = [ln for ln in r.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(STATE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1]


# Matches org.apache.spark.launcher.JavaModuleOptions for JDK 17.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


# ---------------------------------------------------------------- run

def run_harness(classpath, work, input_dir, ops, sink, seed, seconds, trace,
                min_passes, deadline):
    for d in ("tmp", "local", "warehouse", "out", "check"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    out = os.path.join(work, "result.json")
    cores = os.cpu_count() or 1
    # -XX:-UsePerfData: no hsperfdata file outside the work dir
    cmd = ["java", *ADD_OPENS, f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
           "org.apache.spark.perfbench.Harness",
           "--ops", ",".join(ops), "--input", input_dir, "--work", work,
           "--out", out, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--min-passes", str(min_passes), "--sink", sink,
           "--cores", str(cores), "--canary", CANARY]
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        os.makedirs(os.path.join(STATE, "last"), exist_ok=True)
        shutil.copy(logf, os.path.join(STATE, "last", "failed-jvm.log"))
        fail(f"harness exited with {rc}; log in {os.path.join(STATE, 'last', 'failed-jvm.log')}")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- check

def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
        return "[" + ",".join(_cell(x) for x in list(v)) + "]"
    return str(v)


def _digest(df):
    df = df.reindex(sorted(df.columns), axis=1)
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(repr(tuple(_cell(v) for v in row)).encode())
    return {"columns": list(df.columns), "rows": len(df), "digest": h.hexdigest()}


def check_outputs(result, ops, input_dir):
    """Compare each op's dumped result with DuckDB on its oracle SQL.

    Returns the set of ops whose output is missing or differs. The oracle
    side is cached by SQL text and input content."""
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    input_hash = _tree_hash(glob.glob(os.path.join(input_dir, "*.parquet")))
    cache = os.path.join(STATE, "oracle")
    os.makedirs(cache, exist_ok=True)
    bad = set()
    for op in ops:
        sql = result["oracle"].get(op)
        if not sql:
            log(f"check {op}: no oracle SQL")
            bad.add(op)
            continue
        key = hashlib.sha256((sql + "\0" + input_hash).encode()).hexdigest()
        path = os.path.join(cache, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                want = json.load(f)
        else:
            want = _digest(con.sql(sql).df())
            with open(path, "w") as f:
                json.dump(want, f)
        files = sorted(glob.glob(os.path.join(result["check_dir"], op, "*.parquet")))
        if not files:
            log(f"check {op}: no output")
            bad.add(op)
            continue
        got = _digest(duckdb.sql(f"SELECT * FROM read_parquet({files!r})").df())
        if got != want:
            log(f"check {op}: mismatch {got} vs oracle {want}")
            bad.add(op)
    return bad


# ---------------------------------------------------------------- metrics

def _timed(result):
    return [p for p in result["passes"] if p["kind"] == "pass"]


def end_to_end(result, bad_ops):
    passes = _timed(result)
    untraced = [p for p in passes if not p["traced"]] or passes
    samples = [o["wall_s"] for p in untraced for o in p["ops"] if o["error"] is None]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for o in p["ops"]
                 if o["error"] is not None or o["op"] in bad_ops)
    m = {
        "setup_s": (result["setup_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in untraced), "s"),
        "op_p50_s": (statistics.median(samples) if samples else 0.0, "s"),
        "fail_frac": (failed / attempted, "ratio"),
        "heap_mb": (result["heap_bytes"] / 1e6, "MB"),
        "cached_mb": (result["cached_bytes"] / 1e6, "MB"),
        "disk_mb": (result["disk_bytes"] / 1e6, "MB"),
    }
    return m, attempted, failed, len(samples)


def per_layer(result, ops, nproc):
    passes = _timed(result)
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]

    def med_sum(key, pred=lambda o: True):
        return statistics.median(
            sum(o.get(key, 0.0) for o in p["ops"] if pred(o)) for p in traced)

    m = {k: (med_sum(k), _unit(k)) for k in LAYER_SUMS}
    pass_s = statistics.median(p["wall_s"] for p in traced)
    m["core_busy_frac"] = (med_sum("task_s") / (pass_s * nproc), "ratio")
    is_pipe = lambda o: o["op"] == PIPELINE_OP  # noqa: E731
    pipe_s = med_sum("wall_s", is_pipe)
    m["pipeline_s"] = (pipe_s, "s")
    m["pipeline_jobs"] = (med_sum("jobs", is_pipe), "count")
    m["pipeline_busy_frac"] = (
        med_sum("task_s", is_pipe) / (pipe_s * nproc) if pipe_s else 0.0, "ratio")
    warm = [p for p in result["passes"] if p["kind"] == "warmup"][-1]
    m["warmup_extra_s"] = (warm["wall_s"] - pass_s, "s")
    m["warmup_extra_jobs"] = (
        sum(o.get("jobs", 0.0) for o in warm["ops"]) - med_sum("jobs"), "count")
    m["cached_mb"] = (result["cached_bytes"] / 1e6, "MB")
    m["cached_growth_mb"] = (
        (result["cached_bytes"] - result["cached_after_setup_bytes"]) / 1e6, "MB")
    m["trace_overhead_s"] = (
        pass_s - statistics.median(p["wall_s"] for p in untraced) if untraced else 0.0, "s")
    for op in all_ops():
        m[f"op.{op}.s"] = (
            statistics.median(o["wall_s"] for p in passes for o in p["ops"] if o["op"] == op)
            if op in ops else 0.0, "s")
    return m


def self_times(spans):
    """Span id -> its duration minus the union of its children's intervals (ms)."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted((max(c[4], s[4]), min(c[5], s[5])) for c in kids.get(s[0], [])):
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0.0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += (cur_e - cur_s) if cur_e is not None else 0.0
        out[s[0]] = (s[5] - s[4]) - covered
    return out


def self_time_by_kind(spans):
    """Seconds of self time per span kind, over the whole traced run."""
    selfs, out = self_times(spans), {}
    for s in spans:
        out[s[2]] = out.get(s[2], 0.0) + selfs[s[0]] / 1e3
    return out


def _unit(k):
    if k.endswith("_s"):
        return "s"
    if k.endswith("_mb"):
        return "MB"
    return "count"


def all_ops():
    return [op for _, _, ops in WORKLOADS.values() for op in ops]


# ---------------------------------------------------------------- main

def validity(result, load_before, load_after):
    ratio = result["canary_after_s"] / result["canary_before_s"]
    return {
        "loadavg_before": load_before, "loadavg_after": load_after,
        "nproc": os.cpu_count(), "heap_cap_mb": result["heap_cap_bytes"] / 1e6,
        "canary": CANARY, "canary_before_s": result["canary_before_s"],
        "canary_after_s": result["canary_after_s"], "canary_ratio": ratio,
        "valid": ratio <= 1.5,
    }


def run_workload(name, seed, seconds, trace, sf=SF, min_passes=None, keep=None):
    """One benchmark run; returns (report dict, raw harness result)."""
    deadline = time.time() + DEADLINE_S
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not here")
    classpath = build()
    deadline = max(deadline, time.time() + DEADLINE_S - 10)
    sink, passes, ops = WORKLOADS[name]
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        input_dir = os.path.join(work, "input")
        gen.write(seed, sf, input_dir)
        load_before = os.getloadavg()
        min_passes = min_passes or passes
        result = run_harness(classpath, work, input_dir, ops, sink, seed, seconds,
                             trace, min_passes, deadline)
        load_after = os.getloadavg()
        t_check = time.time()
        bad = check_outputs(result, ops, input_dir)
        log(f"output check took {time.time() - t_check:.1f} s")
        nproc = os.cpu_count() or 1
        e2e, attempted, failed, n = end_to_end(result, bad)
        report = {
            "workload": name, "seed": seed, "sf": sf, "trace": trace,
            "op_samples": n, "validity": validity(result, load_before, load_after),
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "correct": not bad, "attempted": attempted, "failed": failed,
            "bad_ops": sorted(bad),
        }
        if trace:
            report["per_layer"] = {k: {"value": v, "unit": u}
                                   for k, (v, u) in per_layer(result, ops, nproc).items()}
            report["self_s_by_span_kind"] = self_time_by_kind(result["spans"])
        if keep:
            with open(keep, "w") as f:
                json.dump({"report": report, "spans": result["spans"],
                           "passes": result["passes"]}, f)
        return report, result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def contract_metrics(report, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    src = report["per_layer" if trace else "end_to_end"]
    return {n: src[n] for n in names}


def _terminate(signum, frame):
    raise SystemExit(f"terminated by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        import selftest
        sys.exit(selftest.main())
    if not a.workload:
        ap.error("--workload is required")
    os.makedirs(os.path.join(STATE, "last"), exist_ok=True)
    keep = os.path.join(STATE, "last", f"{a.workload}.trace{a.trace}.json")
    report, _ = run_workload(a.workload, a.seed, a.seconds, a.trace, keep=keep)
    print(json.dumps(report))
    metrics = contract_metrics(report, a.trace)
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

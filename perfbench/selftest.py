"""Self-test of the benchmark at sf=0.001 (`python3 perfbench/run.py --self-test`).

Runs one traced pass of each workload and asserts that
  - every metric named in BENCHMARK.json is reported, as a number, with its unit;
  - the outputs match the oracle;
  - spans nest: each lies inside its parent, in the order
    run > setup/warmup/pass > op > construct/plan/execute > job > stage;
  - each op's self time plus its children's durations equals its wall time;
  - the layers each workload is meant to exercise report non-zero work.
Exits 0 when all hold.
"""
import json
import os

import run

TOL_MS = 2.0
PARENT_KINDS = {
    "setup": {"run"}, "warmup": {"run"}, "pass": {"run"},
    "op": {"warmup", "pass"},
    "construct": {"op"}, "plan": {"op"}, "execute": {"op"},
    # a job submitted outside every phase window hangs off the op itself
    "job": {"construct", "plan", "execute", "op"},
    "stage": {"job"},
}
# per-layer metrics that must be non-zero on each workload
EXERCISED = {
    "etl_daily": ["construct_s", "jobs", "tasks", "task_s", "plan_nodes",
                  "output_rows", "output_mb", "pipeline_s", "pipeline_jobs",
                  "stream_batches", "stream_addbatch_s"],
    "llm_corpus": ["construct_s", "jobs", "tasks", "task_s", "exchanges",
                   "shuffle_write_mb", "optimizer_s", "cached_mb"],
}


def check_spans(spans, errors):
    by_id = {s[0]: s for s in spans}
    for s in spans:
        sid, parent, kind, name, start, end = s
        if end < start - TOL_MS:
            errors.append(f"span {sid} {kind} {name} ends before it starts")
        if parent < 0:
            if kind != "run":
                errors.append(f"span {sid} {kind} has no parent")
            continue
        p = by_id[parent]
        if p[2] not in PARENT_KINDS.get(kind, set()):
            errors.append(f"span {sid} {kind} under {p[2]}")
        if start < p[4] - TOL_MS or end > p[5] + TOL_MS:
            errors.append(f"span {sid} {kind} {name} [{start:.1f}, {end:.1f}] "
                          f"outside its {p[2]} [{p[4]:.1f}, {p[5]:.1f}]")
    selfs = run.self_times(spans)
    for s in spans:
        if s[2] != "op":
            continue
        kids = [c for c in spans if c[1] == s[0]]
        total = selfs[s[0]] + sum(c[5] - c[4] for c in kids)
        if abs(total - (s[5] - s[4])) > TOL_MS:
            errors.append(f"op {s[3]}: self + children = {total:.1f} ms, "
                          f"wall {s[5] - s[4]:.1f} ms")


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    for name in run.WORKLOADS:
        keep = os.path.join(run.STATE, "last", f"selftest-{name}.json")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        report, result = run.run_workload(name, seed=1, seconds=0, trace=1, sf=0.001,
                                          min_passes=1, keep=keep)
        if not report["correct"] or report["failed"]:
            errors.append(f"{name}: outputs differ from the oracle: {report['bad_ops']}")
        for section in ("end_to_end", "per_layer"):
            for m in bench[section]:
                got = report[section].get(m["name"])
                if got is None:
                    errors.append(f"{name}: {section} metric {m['name']} missing")
                elif got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    errors.append(f"{name}: {m['name']} printed as {got}, unit {m['unit']}")
        for k in EXERCISED[name]:
            if not report["per_layer"][k]["value"] > 0:
                errors.append(f"{name}: layer metric {k} is not positive")
        n_before = len(errors)
        check_spans(result["spans"], errors)
        kinds = sorted({s[2] for s in result["spans"]})
        print(f"[selftest] {name}: {len(result['spans'])} spans of kinds {kinds}, "
              f"{len(errors) - n_before} span errors")
    for e in errors:
        print(f"[selftest] FAIL {e}")
    print("[selftest] ok" if not errors else f"[selftest] {len(errors)} failures")
    return 1 if errors else 0

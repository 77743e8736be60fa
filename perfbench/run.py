#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pig_scripts --seed 1 --seconds 10 --trace 0

Builds the engine from source on first use (`perfbench/build.py`),
generates the workload's inputs from the seed, computes the oracle
hashes, runs the JVM harness (session, fixtures, warm round, closed-loop
timed rounds), checks every op's output, and prints one line per metric
and, last, one JSON object. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer metrics of a traced run. Each result is also
kept under `.bench_results/` for `perfbench/compare.py`.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Input sizes per workload (see README: chosen so one run fits its budget).
SCALES = {"pig_sf": 0.005, "fed_sf": 0.1, "docs": 3000, "vectors": 2000,
          "churn_sf": 0.1, "churn_rounds": 40}
FIXTURE_REPS = 3
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
# the seed later gain claims are confirmed on (not used while tuning)
CONFIRM_SEED = 9001

WRITES = ("merge", "delete", "update", "append")
FED = ("q105", "q130", "bigcut")
E2E_UNITS = {"setup_s": "s", "makespan_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "cpu_s": "s", "retained_heap_mb": "MB", "failed_frac": "ratio"}
EXTRA_UNITS = {"commit_p50_s": "s", "read_p50_s": "s", "space_amp": "ratio",
               "fed_overhead_x": "ratio"}
CTL = tuple(f"{n}_ctl" for n in FED)
READS = ("point_read", "snapshot_read", "timetravel_read", "feed_poll")


def load_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def med(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, 0
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, 10


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def oracle_sql(workload, spec):
    import oracle
    if workload == "federated":
        q = oracle.fed_sql(spec["fed"])
        return {**q, **{f"{k}_ctl": v for k, v in q.items()}}
    with open(os.path.join(ROOT, ".bench_build", "oracle_sql.json")) as f:
        entry = json.load(f)
    if workload == "pig_scripts":
        return {op: entry[q] for op, q in oracle.PIG_STORIES.items()}
    if workload == "curation":
        return {q: entry[q] for q in oracle.CURATION_STORIES}
    return {}


def check_all(workload, data, spec, records, oracles):
    """Per op: None when its output passed its check, else the reason."""
    import oracle
    out = {}
    model = oracle.ChurnModel(data, spec, oracles) if workload == "table_churn" else None
    for rec in records:
        if not rec["ok"]:
            out[rec["id"]] = rec["err"] or "op failed"
            continue
        why = model.apply(rec) if model else oracles.check(rec["name"], rec["out"])
        out[rec["id"]] = why
    return out, model


def end_to_end(res, timed, setup_s):
    walls = [r["wall_s"] for r in timed]
    t, pct, beyond = tail(walls)
    rounds = res["rounds"]
    return {
        "setup_s": setup_s,
        "makespan_s": med([r["wall_s"] for r in rounds]),
        "op_p50_s": med(walls),
        "op_tail_s": t,
        "cpu_s": med([r["cpu_s"] for r in rounds]),
        "retained_heap_mb": res["heap_mb"],
    }, {"op_tail_pct": pct, "op_tail_beyond": beyond, "op_samples": len(walls)}


def workload_specific(workload, res, timed, model):
    """The four metrics that exist on one workload only."""
    m = {}
    if workload == "table_churn":
        m["commit_p50_s"] = med([r["wall_s"] for r in timed if r["name"] in WRITES])
        m["read_p50_s"] = med([r["wall_s"] for r in timed if r["name"] in READS])
        x = res["extras"]
        m["space_amp"] = x["table_bytes"] / x["live_bytes"] if x.get("live_bytes") else 0.0
    if workload in ("federated", "table_churn"):
        # per complete round: federated plans / the same plans on one cluster
        ratios = []
        for rnd in sorted({r["round"] for r in res["rounds"]}):
            ops = [r for r in timed if r["round"] == rnd]
            f = sum(r["wall_s"] for r in ops if r["name"] in FED)
            c = sum(r["wall_s"] for r in ops if r["name"] in CTL)
            ratios.append(f / c)
        m["fed_overhead_x"] = med(ratios)
    return m


def per_layer(workload, res, timed, model, names):
    """Per-layer metrics of a traced run: sums over the timed ops of one
    kind divided by their number (or medians where the name says p50)."""
    L = [r.get("layer", {}) for r in timed]

    def mean_of(key, recs=None, scale=1.0):
        rs = [r.get("layer", {}) for r in (recs if recs is not None else timed)]
        return sum(x.get(key, 0.0) for x in rs) / len(rs) * scale if rs else 0.0

    def med_of(key, recs, scale=1.0):
        return med([r.get("layer", {}).get(key, 0.0) * scale for r in recs])

    by = lambda *ns: [r for r in timed if r["name"] in ns]
    m = {}
    pig = timed if workload == "pig_scripts" else []
    m["pig.preprocess_ms"] = mean_of("span.pig.preprocess", pig)
    m["pig.parse_ms"] = mean_of("span.pig.parse", pig)
    m["pig.compile_ms"] = mean_of("span.pig.compile", pig)
    m["pig.statements"] = mean_of("pig.statements", pig)
    m["plan.ms"] = mean_of("span.plan")
    for k in ("exchanges", "reused_exchanges", "scans", "broadcasts"):
        m[f"plan.{k}"] = mean_of(f"plan.{k}")
    for k in ("jobs", "stages", "scan_stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "queue_s", "driver_gap_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
              "input_mb", "output_mb"):
        m[f"exec.{k}"] = mean_of(f"exec.{k}")
    wall = sum(r["wall_s"] for r in timed)
    m["exec.task_run_frac"] = sum(x.get("exec.task_run_s", 0.0) for x in L) / wall if wall else 0.0

    fed, ctl = by(*FED), by(*CTL)
    m["fed.plan_ms"] = mean_of("span.fed.plan", fed)
    m["fed.plan_jobs"] = mean_of("fed.plan_jobs", fed)
    m["fed.execute_ms"] = mean_of("span.fed.execute", fed)
    m["fed.final_ms"] = mean_of("span.fed.final", fed)
    m["fed.cut_edges"] = mean_of("fed.cut_edges", fed)
    m["fed.ctl_cut_edges"] = mean_of("fed.cut_edges", ctl)
    m["fed.staged_mb"] = mean_of("fed.staged_mb", fed)
    m["fed.staged_files"] = mean_of("fed.staged_files", fed)
    staged = sum(r.get("layer", {}).get("fed.staged_bytes", 0.0) for r in fed)
    est = sum(r.get("layer", {}).get("fed.est_bytes", 0.0) for r in fed)
    m["fed.est_over_actual"] = est / staged if staged else 0.0
    m["fed.clusters_used"] = mean_of("fed.clusters_used", fed)

    commits = [r for r in by(*WRITES) if r["info"].get("version", -1) >= 0]
    for k in WRITES:
        m[f"vt.{k}_ms"] = med_of(f"span.vt.{k}", by(k))
    n_commit = sum(r.get("layer", {}).get("vt.commits", 0.0) for r in commits)
    m["vt.jobs_per_commit"] = (sum(r.get("layer", {}).get("vt.jobs", 0.0) for r in commits)
                               / n_commit if n_commit else 0.0)
    m["vt.driver_gap_per_commit_s"] = mean_of("exec.driver_gap_s", commits)
    m["vt.files_added"] = mean_of("vt.files_added", commits)
    m["vt.files_removed"] = mean_of("vt.files_removed", commits)
    m["vt.bytes_added_mb"] = mean_of("vt.bytes_added", commits, 1 / 1048576)
    deletes = [r for r in commits if r["name"] == "delete"]
    m["vt.bytes_dv_kb"] = mean_of("vt.bytes_dv", deletes, 1 / 1024)
    m["vt.files_scanned"] = mean_of("vt.files_scanned", deletes)
    written = sum(r.get("layer", {}).get("vt.bytes_added", 0.0) +
                  r.get("layer", {}).get("vt.bytes_dv", 0.0) for r in commits)
    changed = sum(n * b for n, b in model.bytes_per_row) if model else 0.0
    m["vt.write_amp"] = written / changed if changed else 0.0
    m["vt.live_files"] = (commits[-1].get("layer", {}).get("vt.live_files", 0.0)
                          if commits else 0.0)
    points = by("point_read")
    m["vt.point_read_ms"] = med_of("span.vt.point_read", points)
    live = sum(r.get("layer", {}).get("vt.files_live", 0.0) for r in points)
    m["vt.files_kept_frac"] = (sum(r.get("layer", {}).get("vt.files_kept", 0.0)
                                   for r in points) / live if live else 0.0)
    for k in ("snapshot_read", "timetravel_read", "feed_poll"):
        m[f"vt.{k}_ms"] = med_of(f"span.vt.{k}", by(k))
    m["vt.feed_rows"] = mean_of("vt.feed_rows", by("feed_poll"))

    drains = by("stream_drain")
    m["stream.drain_ms"] = med_of("stream.drain_ms", drains)
    for k in ("batches", "trigger_ms", "addbatch_ms", "log_commit_ms"):
        m[f"stream.{k}"] = mean_of(f"stream.{k}", drains)
    m["stream.floor_ms"] = med([r.get("layer", {}).get("stream.drain_ms", 0.0) -
                                r.get("layer", {}).get("stream.trigger_ms", 0.0) for r in drains])

    for layer in ("op", "pig", "plan", "exec", "fed", "vt", "stream", "story", "ann"):
        m[f"self.{layer}_s"] = mean_of(f"self.{layer}_s")
    # tracing overhead against the untraced results kept for this workload
    untraced = []
    for f in glob.glob(os.path.join(ROOT, ".bench_results", workload, "seed*-trace0-*.json")):
        with open(f) as fh:
            untraced.append(json.load(fh)["metrics"]["makespan_s"])
    traced = med([r["wall_s"] for r in res["rounds"]])
    m["trace.overhead_x"] = traced / med(untraced) if untraced else 0.0
    for name in names:
        if name.startswith("op.") and name.endswith("_s"):
            m[name] = med([r["wall_s"] for r in timed if r["name"] == name[3:-2]])
    return m


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pig_scripts", "federated", "curation", "table_churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ("src/main/scala", "src/main/resources", "tools/validate.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: run from a checkout of the repository")
    e2e_names, layer_names = load_metric_names()

    import build
    import gen
    import oracle
    t_build = time.time()
    build.ensure()
    build_s = time.time() - t_build

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        spec = gen.generate(a.workload, a.seed, data, SCALES)
        gen_s = time.time() - t0
        t0 = time.time()
        oracles = oracle.HashOracle(data, oracle_sql(a.workload, spec))
        oracle_s = time.time() - t0

        load_before = loadavg()
        result_file = os.path.join(work, "jvm_result.json")
        jvm = build.java(["--workload", a.workload, "--data", data, "--work", work,
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--seed", str(a.seed), "--fixture-reps", str(FIXTURE_REPS),
                          "--out", result_file], heap=JVM_HEAP, tmp=os.path.join(work, "tmp"))
        with open(os.path.join(work, "jvm.log"), "w") as log:
            p = subprocess.Popen(jvm, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail("the JVM harness timed out")
        load_after = loadavg()
        if p.returncode != 0 or not os.path.exists(result_file):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-3000:])
            fail(f"the JVM harness exited with {p.returncode}")
        with open(result_file) as f:
            res = json.load(f)

        t0 = time.time()
        why, model = check_all(a.workload, data, spec, res["ops"], oracles)
        check_s = time.time() - t0
        ops = res["ops"]
        failed = [r for r in ops if why[r["id"]]]
        timed = [r for r in ops if r["phase"] == "timed"]
        setup_s = (res["session_s"] + med(res["fixture_s"]) + res["warm_s"] +
                   gen_s + oracle_s)
        e2e, tail_info = end_to_end(res, timed, setup_s)
        e2e["failed_frac"] = len(failed) / len(ops)
        extra = workload_specific(a.workload, res, timed, model)
        if a.trace:
            # the workload-specific metrics read 0 off their workloads
            metrics = {**per_layer(a.workload, res, timed, model, layer_names),
                       **{k: 0.0 for k in EXTRA_UNITS}, **extra}
            units, shown = layer_names, layer_names
        else:
            # printed: all of them; in the JSON: the gated ones of BENCHMARK.json
            metrics, units = {**e2e, **extra}, e2e_names
            shown = {**E2E_UNITS, **{k: EXTRA_UNITS[k] for k in extra}}
        missing = set(units) - set(metrics)
        if missing:
            fail(f"metrics not computed: {sorted(missing)}")

        host = {
            "seed": a.seed, "confirm_seed": CONFIRM_SEED, "workload": a.workload,
            "trace": a.trace, "seconds": a.seconds, "nproc": res["nproc"],
            "loadavg_before": load_before, "loadavg_after": load_after,
            "jvm_heap": f"-Xmx{JVM_HEAP}", "spark": res["spark"],
            "warm_pass_done": res["warm_done"], "warm_s": res["warm_s"],
            "session_s": res["session_s"], "fixture_s": res["fixture_s"],
            "gen_s": gen_s, "oracle_s": oracle_s, "check_s": check_s, "build_s": build_s,
            "timed_s": res["timed_s"], "rounds": len(res["rounds"]), **tail_info,
            "scales": SCALES,
        }
        full = {"host": host, "metrics": {k: metrics[k] for k in shown}, "units": shown,
                "failures": [{"op": r["name"], "phase": r["phase"], "why": why[r["id"]]}
                             for r in failed][:20],
                "ops": [[r["name"], r["phase"], r["wall_s"], r.get("layer", {})]
                        for r in ops]}
        keep = os.path.join(ROOT, ".bench_results", a.workload)
        os.makedirs(keep, exist_ok=True)
        with open(os.path.join(keep, f"seed{a.seed}-trace{a.trace}-{int(time.time())}.json"),
                  "w") as f:
            json.dump(full, f, indent=1)
        if a.trace and os.path.exists(os.path.join(work, "spans.json")):
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(keep, f"seed{a.seed}-spans.json"))

        for k in ("seed", "confirm_seed", "nproc", "loadavg_before", "loadavg_after",
                  "jvm_heap", "spark", "warm_pass_done", "rounds", "op_samples"):
            print(f"# {k}: {json.dumps(host[k])}")
        for k in shown:
            line = f"{k} = {metrics[k]:.6g} {shown[k]}"
            if k == "op_tail_s":
                line += f"  (p{tail_info['op_tail_pct']:.1f}, {tail_info['op_tail_beyond']} samples beyond)"
            print(line)
        for f_ in full["failures"]:
            print(f"# FAILED {f_['op']} ({f_['phase']}): {f_['why']}")
        print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                          "metrics": {k: {"value": metrics[k], "unit": units[k]}
                                      for k in units}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

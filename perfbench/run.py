#!/usr/bin/env python3
"""graft benchmark: one closed-loop, single-client workload per run, in its
own JVM, with correctness checked and every metric printed by name.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Run from the repository root. The last stdout line is one JSON object
(`correct`, `attempted`, `failed`, `metrics`): the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it
holds the run's noise diagnostics and sample counts. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Per workload: how its inputs are made, its untimed warm-up passes after
# the check pass, and the fewest timed passes (README.md records the JIT
# decay and the run budget behind them).
WORKLOADS = {
    "query_mix": (lambda d, s: gen.tables(d, s, sf=0.01), 0, 2),
    "elt_day": (lambda d, s: gen.elt(d, s), 1, 1),
}
SETUP_REPS = 3
# The JVM options of the repo's build.sbt, as graft.Bench runs with them.
JVM_OPTS = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=64"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    PER_LAYER = json.load(f)["per_layer"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def make_inputs(work, workload, seed):
    """Generate the inputs SETUP_REPS times into fresh directories; return
    (dir of the last, median seconds)."""
    times = []
    for r in range(SETUP_REPS):
        d = os.path.join(work, f"inputs{r}")
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        WORKLOADS[workload][0](d, seed)
        with open(os.path.join(d, "seed"), "w") as f:
            f.write(str(seed))
        times.append(time.perf_counter() - t0)
        if r < SETUP_REPS - 1:
            shutil.rmtree(d)
    return d, median(times)


def spans_by_name(spans, passes):
    """{name: (total, self)} seconds per timed pass."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    tot, own = {}, {}
    for s in spans:
        if s["pass"] not in passes:
            continue
        d = s["t1"] - s["t0"]
        c = sum(k["t1"] - k["t0"] for k in kids.get(s["id"], []))
        tot[s["name"]] = tot.get(s["name"], 0.0) + d
        own[s["name"]] = own.get(s["name"], 0.0) + d - c
    n = max(1, len(passes))
    return {k: (tot[k] / n, own[k] / n) for k in tot}


def per_layer(res, timed, pass_s, cpus):
    n = max(1, len(timed))

    def mean(key):
        return sum(p.get(key, 0.0) for p in timed) / n

    sp = spans_by_name(res["spans"], {p["pass"] for p in timed})

    def total(name):
        return sp.get(name, (0.0, 0.0))[0]

    def own(name):
        return sp.get(name, (0.0, 0.0))[1]

    mb = 1 << 20
    m = {
        "codegen.compiles": mean("compiles"),
        "jvm.jit_s": mean("jit_s"), "jvm.gc_s": mean("gc_s"),
        "jvm.peak_rss_mb": res["peak_rss_mb"],
        "spark.jobs": mean("spark.jobs"), "spark.stages": mean("spark.stages"),
        "spark.tasks": mean("spark.tasks"),
        "spark.task_run_s": mean("task_run_ms") / 1e3,
        "spark.task_cpu_s": mean("task_cpu_ns") / 1e9,
        "spark.core_busy": mean("task_run_ms") / 1e3 / (pass_s * cpus)
        if pass_s else 0.0,
        "spark.shuffle_write_mb": mean("shuffle_write_b") / mb,
        "spark.shuffle_read_mb": mean("shuffle_read_b") / mb,
        "spark.spill_mb": mean("spill_b") / mb,
        "sources.input_mb": mean("input_b") / mb,
        "sources.input_rows": mean("input_rows"),
        "ops.build_s": total("ops.build"),
        "ops.plan_s": mean("plan_s") if sp.get("ops.exec") else 0.0,
        "ops.exec_s": max(0.0, total("ops.exec") - mean("plan_s"))
        if sp.get("ops.exec") else 0.0,
        "functions.kernel_s": ([s["t1"] - s["t0"] for s in res["spans"]
                                if s["name"] == "functions.kernel"] or [0.0])[-1],
        "pipeline.load_s": own("pipeline.run"),
        "pipeline.upsert_s": total("pipeline.upsert"),
        "pipeline.new_rows_only_s": total("pipeline.new_rows_only"),
        "pipeline.read_s": total("pipeline.read"),
        "pipeline.schedule_s": total("pipeline.schedule"),
        "pipeline.expect_s": total("pipeline.expect"),
        "pipeline.compact_s": total("pipeline.compact"),
        "pipeline.commits": mean("commits"),
        "pipeline.files_written": mean("files_written"),
        "pipeline.write_amp": mean("write_amp"),
        "pipeline.space_amp": mean("space_amp"),
        "ingest.fetch_s": total("ingest.fetch"),
        "ingest.parse_s": own("ingest.parse"),
        "ingest.retries": mean("retries"),
        "ingest.failed_keys": mean("failed_keys"),
        "streaming.drain_s": total("streaming.drain"),
        "trace.pass_s": pass_s,
    }
    for name in sp:
        if name.startswith("ops.") and name.endswith(".exec") and name != "ops.exec":
            m[name + "_s"] = total(name)
    return m


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", type=int, choices=(0, 1), default=0,
                    help="add one throwing and one wrong query (query_mix)")
    a = ap.parse_args()

    classpath = build.build()
    root = os.getcwd()
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "results"))
    inputs, gen_s = make_inputs(work, a.workload, a.seed)
    cpus = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    # Spark's scratch and the JVM's temp files stay inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", f"-Djava.io.tmpdir={tmp}"] + JVM_OPTS + [
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--inputs", inputs, "--work", work,
           "--out", out, "--cpus", str(cpus), "--seconds", str(a.seconds),
           "--warmup-passes", str(WORKLOADS[a.workload][1]),
           "--timed-passes", str(WORKLOADS[a.workload][2]),
           "--trace", str(a.trace), "--selftest", str(a.selftest)]
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        jvm = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = jvm.wait(timeout=170)
        finally:  # also on timeout or SIGTERM: never leave the JVM behind
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()
    if rc != 0:
        sys.exit(f"benchmark JVM failed ({rc}); see {work}/jvm.log")
    with open(out) as f:
        res = json.load(f)

    wrong = {}
    if a.workload == "query_mix":
        wrong = {k: v for k, v in oracle.check(
            inputs, os.path.join(work, "results")).items() if v}
    timed = [p for p in res["passes"] if p["phase"] == "timed"]
    ops = [o for o in res["ops"] if o["phase"] == "timed"]
    for o in ops:
        if o["error"] is None and o["name"] in wrong:
            o["error"] = wrong[o["name"]]
    ok = [o for o in ops if o["error"] is None]
    checks_ok = not wrong and all(o["error"] is None for o in res["ops"]
                                  if o["phase"] != "timed")
    walls = [o["wall_s"] for o in ok]
    pass_walls = [sum(o["wall_s"] for o in ok if o["pass"] == p["pass"])
                  for p in timed]
    pass_s = median(pass_walls)
    setup_s = gen_s + (res["ready_epoch_ms"] / 1e3 - launched)

    if a.trace:
        metrics = per_layer(res, timed, pass_s, cpus)
        metrics = {m["name"]: {"value": metrics.get(m["name"], 0.0),
                               "unit": m["unit"]} for m in PER_LAYER}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "op_p50_s": {"value": median(walls), "unit": "s"},
            "cpu_s": {"value": median([p["cpu_s"] for p in timed]), "unit": "s"},
        }
    diag = {
        "workload": a.workload, "seed": a.seed, "cpus": cpus,
        "op_samples": len(walls),
        "timed_passes": len(timed), "timed_s": res["timed_s"],
        "setup": {"inputs_s": gen_s, "jvm_ready_s": setup_s - gen_s},
        "steal_share": res["steal_share"], "loadavg_1m": res["loadavg_1m"],
        "peak_rss_mb": res["peak_rss_mb"],
        "passes": [{k: round(p[k], 3) for k in
                    ("wall_s", "cpu_s", "jit_s", "gc_s", "compiles")}
                   | {"phase": p["phase"]} for p in res["passes"]],
        "failed": sorted({o["name"]: o["error"] for o in ops
                          if o["error"] is not None}.items())[:10],
    }
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump({"diagnostics": diag, "metrics": metrics}, f, indent=1)
    print(json.dumps(diag))
    print(json.dumps({"correct": checks_ok and len(ok) == len(ops),
                      "attempted": len(ops), "failed": len(ops) - len(ok),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload dashboard|batch \
        --seed N --seconds S --trace 0|1

Builds the engine from source (`perfbench/build.py`), generates the tables
once per checkout (`perfbench/gen.py`, kept under `.bench_build/`), runs the
workload in one JVM on `local[4]` with one closed-loop client in a private
run directory with its own warehouse root, checks the outputs against
DuckDB (`perfbench/oracle.py`), removes the run directory, and prints as its
last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of `BENCHMARK.json`, with `--trace 1`
its per-layer metrics; the traced run also writes its spans and the
end-to-end figures it measured to `.bench_out/trace-<workload>-<seed>.json`.
Exits 1 when an operation failed or an output was wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

SF = 0.002          # events = 2,000 rows; the engine's driver overhead dominates
HEAP = "2g"
RUN_BUDGET_S = 170  # whole run, build excluded
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["dashboard", "batch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def tables(root):
    """The generated tables, made once per checkout and generator version;
    runs only read them (the JVM works on copies)."""
    with open(gen.__file__, "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    path = os.path.join(root, build.OUT_DIR, f"tables-sf{SF}-{tag}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}"
        gen.generate(tmp, SF)
        os.rename(tmp, path)
    return path


def run_jvm(classes, jars, run_dir, data, a, deadline):
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(out, exist_ok=True)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--out", out])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            lines = fh.readlines()
        sys.stderr.write("".join([x for x in lines if "Exception" in x or "Error" in x][:5] + lines[-40:]))
        raise SystemExit(f"perfbench: JVM exited with {code}")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def main():
    a = parse()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        classes, jars = build.ensure(root)
    except subprocess.CalledProcessError as e:
        raise SystemExit(f"perfbench: build failed: {e}")
    started = time.time()
    deadline = started + RUN_BUDGET_S
    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = tables(root)
        if a.workload == "batch":
            gen.event_slice(os.path.join(run_dir, "out", "slice.parquet"), SF, a.seed)
        res = run_jvm(classes, jars, run_dir, data, a, deadline - 15)
        wrong = oracle.check(res["checks"], data, os.path.join(run_dir, "out", "results"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = dict(res["e2e"], heap_live_mb=res["heap_live_mb"])
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}")
    print("plan " + json.dumps(res["plan"]))
    print(f"setup reps (s): {res['setup_reps_s']}; peak RSS {res['peak_rss_mb']:.0f} MB")
    print(f"timed passes (ms): {res['pass_ms']}; primary ops timed: {res['n_timed_ops']}")
    print(f"JVM uptime at end of each phase (ms): {res['uptime_ms']}; "
          f"run wall {time.time() - started:.1f} s")
    print("extra " + json.dumps(res["extra"]))
    for name, t in sorted(res["op_ms"].items()):
        cold = ", ".join(f"{x:.0f}" for x in t["cold"])
        print(f"  op {name}: cold [{cold}] ms, timed median {t['timed_median']:.0f} ms")
    for f in res["failures"]:
        print(f"FAILED op {f['op']} ({f['phase']}): {f['error']}")
    for w in wrong:
        print(f"WRONG {w}")
    if a.trace:
        print("e2e " + json.dumps(e2e))
        # a layer the workload does not call reads 0 (merge.* on dashboard)
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
        with open(os.path.join(root, ".bench_out",
                               f"trace-{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump({k: res[k] for k in ("workload", "seed", "plan", "layers", "spans",
                                           "extra")} | {"e2e": e2e}, fh)
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    # a missing output belongs to an operation already counted as failed
    failed = res["failed"] + sum(not w.endswith(": no output") for w in wrong)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipeline|ingest|catalog \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds the
program together with the harness (sbt, offline); later runs reuse the build
while the sources are unchanged. Each run then generates its inputs from the
seed, starts one JVM that sets the program up and times as many passes of
the workload as take S seconds on a calm 4-core host (graft sources under
../src are what is measured), checks the outputs, and prints the metrics.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the harness also
records spans and the metrics are the per-layer ones (see analyze.py).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# Per-workload input sizes: the delivery shapes measured on the program
# (~1k-row Kafka deliveries, ~200-row ingest deliveries), in numbers that
# make a pass (one drain of the whole backlog, or one pass over the key
# sample) a few seconds long at local[4].
PIPELINE_FILES = 6
INGEST_DELIVERIES = 2
JVM_HEAP = "3g"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 850
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "project")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program plus harness; returns the runtime classpath."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building program and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -XX:-UsePerfData").strip()
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_DEADLINE_S)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def prepare_inputs(workload, seed, run_dir):
    base = os.path.join(BUILD, "tables-sf0.1")
    gen.base_tables(base)
    inp = os.path.join(run_dir, "input")
    if workload == "pipeline":
        info = gen.pipeline_inputs(base, inp, seed, PIPELINE_FILES)
    elif workload == "ingest":
        info = gen.ingest_inputs(base, inp, seed, INGEST_DELIVERIES)
    else:
        # the catalog reads the base tables themselves; the seed only
        # shuffles the order of the fixed key sample
        os.makedirs(inp)
        for f in os.listdir(base):
            if f.endswith(".parquet"):
                os.symlink(os.path.join(base, f), os.path.join(inp, f))
        keys = checks.catalog_keys()
        random.Random(seed).shuffle(keys)
        with open(os.path.join(inp, "keys.txt"), "w") as f:
            f.write("\n".join(keys) + "\n")
        info = {"keys": len(keys)}
    return inp, info


# The JVM the harness runs in. C1 only (TieredStopAtLevel=1): C2 keeps
# compiling for the first ~40 s of a run and the program's CPU per op falls
# ~30% meanwhile, so no run of this length would time a steady state; C1
# settles within the warm-up pass. ParallelGC: under G1, op_cpu_s of the
# same seed differed by up to 12% between runs (G1's concurrent refinement
# hands part of its work to the program's own threads), under ParallelGC by
# under 2%. A fixed set of compiler threads lets the harness read their CPU
# time (see Harness.scala).
JVM_FLAGS = ["-XX:-UsePerfData", "-XX:+UnlockDiagnosticVMOptions",
             "-XX:GCLockerRetryAllocationCount=100",
             "-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC",
             "-XX:-UseDynamicNumberOfCompilerThreads"]


def run_jvm(cp, workload, inp, run_dir, seconds, trace, deadline):
    out = os.path.join(run_dir, "harness.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}"] + JVM_FLAGS
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Harness", workload, inp,
              os.path.join(run_dir, "work"), str(seconds), str(trace), out])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["pipeline", "ingest", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found; run from a checkout of the repository")
    cp = build()
    deadline = time.time() + RUN_DEADLINE_S
    run_dir = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        inp, info = prepare_inputs(a.workload, a.seed, run_dir)
        t1 = time.time()
        raw = run_jvm(cp, a.workload, inp, run_dir, a.seconds, a.trace, deadline)
        t2 = time.time()
        verdicts = checks.check(a.workload, inp, raw)
        phases = {"build_s": t0 - start, "input_s": t1 - t0, "jvm_s": t2 - t1,
                  "check_s": time.time() - t2}
        e2e = analyze.end_to_end(raw, verdicts)
        result = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "seconds": a.seconds, "input": info,
                  "context": raw["context"], "end_to_end": e2e,
                  "verdicts": verdicts, "phases": phases,
                  "ops": raw["ops"], "passes": raw["passes"],
                  "setup_s": raw["setup_s"], "session_s": raw["session_s"],
                  "warmup_s": raw["warmup_s"],
                  "export_s": raw["export_s"], "jvm": raw["jvm"]}
        if a.trace:
            result["detail"] = analyze.detail(raw, verdicts)
            result["per_layer"] = {k: result["detail"][k] for k in analyze.PER_LAYER}
            result["spans"] = raw["spans"]
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
            json.dump(result, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ctx = raw["context"]
    print(f"context: nproc={ctx['nproc']} master={ctx['master']} "
          f"xmx_mb={ctx['xmx_mb']} spark={ctx['spark_version']} "
          f"steal_pct={ctx['steal_pct']:.2f}")
    print("phases: " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()))
    attempted, failed = verdicts["attempted"], verdicts["failed"]
    print(f"ops: attempted={attempted} failed={failed} "
          f"fail_ratio={failed / attempted:.4f}")
    for name, why in verdicts["failures"][:20]:
        print(f"FAILED {name}: {why}")
    print("wall: op_p50_s={:.4g} pass_s={:.4g} over {} timed passes".format(
        analyze.med([o["lat_s"] for o in analyze.ok_ops(raw)]),
        analyze.med([p["wall_s"] for p in analyze.ok_passes(raw)]), len(raw["passes"])))
    if a.trace:
        print("end-to-end while traced: " + " ".join(
            f"{k}={m['value']:.4g}{m['unit']}" for k, m in e2e.items()))
        for name, m in result["detail"].items():
            if name not in analyze.PER_LAYER and analyze.applies(name, a.workload):
                print(f"{name:<44} {m['value']:>14.6g} {m['unit']}")
    metrics = result["per_layer"] if a.trace else e2e
    for name, m in metrics.items():
        print(f"{name:<44} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

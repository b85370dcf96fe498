#!/usr/bin/env python3
"""Metrics from one harness run, and the trace report.

run.py calls end_to_end() on every run and detail() on traced runs, whose
PER_LAYER subset is the per-layer list of BENCHMARK.json.
Run directly, it reads the results run.py saved under .bench_build/results
and, per workload, prints every per-layer metric of the latest traced run
by name and unit, with the self time of its layer and the end-to-end
metric it should move, then the tracing overhead (the traced run's
end-to-end metrics against the untraced run of the same seed):

    python3 perfbench/analyze.py [--workload NAME]

Span model: op (a trigger or a catalog key) → pipeline/streaming trigger,
or catalog build/exec → its slots (triggers only), or spark.plan phase or
spark.job → spark.stage, with jvm.gc pauses under whatever they
interrupted. A span's self time is its duration minus the part of it its
children cover; a trigger's addBatch slot gives up the Spark work inside
its trigger (self_times).
"""
import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".bench_build", "results")

LAYERS = ["pipeline", "streaming", "catalog", "spark.plan", "spark.exec", "jvm"]
KINDS = ["corpus", "fuzzy", "embed"]
FAMILIES = ["relational", "function", "streaming", "llm"]
MB = 1048576.0

# per-layer metric -> (unit, the end-to-end metric and workload it feeds)
FEEDS = {
    "op_p50_s": ("s", "op_cpu_s plus waiting; all workloads"),
    "pass_s": ("s", "op_p50_s times ops per pass; all workloads"),
    "op_tail_s": ("s", "op_p50_s tail; all workloads"),
    "op_tail_pct": ("%", "percentile op_tail_s reports"),
    "rows_per_s": ("rows/s", "pass_s on pipeline, ingest"),
    "stored_files": ("count", "pass_s on pipeline, ingest"),
    "stored_mb": ("MB", "pass_s on pipeline, ingest"),
    "fail_ratio": ("ratio", "correct; all workloads"),
    **{f"{l}.self_s": ("s", "op_p50_s; all workloads") for l in LAYERS},
    "pipeline.add_batch_s": ("s", "op_p50_s, rows_per_s on pipeline"),
    "pipeline.parquet.trigger_p50_s": ("s", "op_p50_s on pipeline"),
    "pipeline.fidelity.trigger_p50_s": ("s", "op_p50_s on pipeline"),
    "pipeline.offsets_s": ("s", "op_p50_s on pipeline (small share on ingest)"),
    "pipeline.commit_s": ("s", "op_p50_s on pipeline (small share on ingest)"),
    "pipeline.files_per_trigger": ("count", "stored_files on pipeline"),
    "pipeline.bytes_per_row": ("bytes", "stored_mb on pipeline"),
    **{f"streaming.{k}.add_batch_p50_s": ("s", "op_p50_s, rows_per_s on ingest") for k in KINDS},
    **{f"streaming.{k}.trigger_p50_s": ("s", "op_p50_s on ingest") for k in KINDS},
    **{f"streaming.{k}.compact_trigger_s": ("s", "op_tail_s on ingest") for k in KINDS[:2]},
    **{f"streaming.{k}.bloom_probable_ratio": ("ratio", "op_p50_s on ingest") for k in KINDS},
    **{f"streaming.{k}.index_files": ("count", "stored_files on ingest") for k in KINDS},
    **{f"streaming.{k}.index_mb": ("MB", "stored_mb on ingest") for k in KINDS},
    **{f"catalog.{f}_s": ("s", "pass_s on catalog") for f in FAMILIES},
    "catalog.build_s": ("s", "pass_s on catalog"),
    "spark.plan.analysis_s": ("s", "op_p50_s on catalog"),
    "spark.plan.optimization_s": ("s", "op_p50_s on catalog"),
    "spark.plan.planning_s": ("s", "op_p50_s on catalog; near zero on pipeline"),
    "spark.exec.jobs_per_op": ("count", "op_p50_s on catalog, ingest"),
    "spark.exec.stages_per_op": ("count", "op_p50_s on catalog, ingest"),
    "spark.exec.tasks_per_op": ("count", "op_p50_s on catalog, ingest"),
    "spark.exec.driver_gap_s": ("s", "op_p50_s on all workloads"),
    "spark.exec.task_busy_s": ("s", "pass_s on catalog, op_tail_s on ingest"),
    "spark.exec.core_util": ("ratio", "pass_s on catalog, op_tail_s on ingest"),
    "spark.exec.task_skew": ("ratio", "op_tail_s on catalog, ingest"),
    "spark.exec.shuffle_write_mb": ("MB", "pass_s on catalog"),
    "spark.exec.shuffle_read_mb": ("MB", "pass_s on catalog"),
    "spark.exec.spill_mb": ("MB", "pass_s on catalog"),
    "jvm.jit_cpu_s": ("s", "none: compiler CPU, left out of op_cpu_s"),
    "jvm.gc_cpu_s": ("s", "none: GC threads' CPU, left out of op_cpu_s; op_tail_s"),
    "jvm.gc_s": ("s", "op_tail_s on all workloads, jvm.peak_rss_mb"),
    "jvm.task_gc_s": ("s", "op_tail_s on all workloads"),
    "jvm.heap_peak_mb": ("MB", "jvm.peak_rss_mb"),
    "jvm.peak_rss_mb": ("MB", "none: process memory (VmHWM), too noisy for a bound"),
    "host.steal_pct": ("%", "none: context for reading noise"),
}


def med(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it (the
    maximum when there are ten or fewer), as (value, percentile)."""
    s = sorted(xs)
    if not s:
        return 0.0, 0.0
    if len(s) <= 10:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def metric(value, unit):
    return {"value": float(value), "unit": unit}


def ok_ops(raw):
    return [o for o in raw["ops"] if o["ok"]]


def ok_passes(raw):
    bad = {o["pass"] for o in raw["ops"] if not o["ok"]}
    return [p for p in raw["passes"] if p["pass"] not in bad]


def per_op(raw, *keys):
    """Seconds per op over the timed passes that did not fail, summing
    each pass's `keys` (a leading "-" subtracts)."""
    ps = ok_passes(raw)
    n = sum(p["ops"] for p in ps)
    total = sum((-p[k[1:]] if k[0] == "-" else p[k]) for p in ps for k in keys)
    return total / n if n else 0.0


def end_to_end(raw, verdicts):
    return {
        "setup_s": metric(raw["setup_s"], "s"),
        "op_cpu_s": metric(per_op(raw, "cpu_s", "-jit_cpu_s", "-gc_cpu_s"), "s"),
    }


def _union(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def layer_of(name):
    if name == "op":
        return None
    for l in ("spark.plan", "spark.job", "spark.stage", "jvm", "pipeline",
              "streaming", "catalog"):
        if name.startswith(l):
            return "spark.exec" if l in ("spark.job", "spark.stage") else l
    return None


def _covered(span, children):
    """The part of `span` that `children` cover."""
    return _union([(max(c["start"], span["start"]), min(c["end"], span["end"]))
                   for c in children if c["end"] > span["start"] and c["start"] < span["end"]])


def self_times(spans):
    """Seconds of self time per layer, summed over all spans.

    A trigger's slots are laid end to end, not where they ran (see
    Harness.traceTrigger), so the Spark work that the listeners saw inside
    a trigger hangs under the trigger itself: the trigger keeps what its
    slots leave, and its addBatch slot gives up the union of that work.
    """
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    by_id = {s["id"]: s for s in spans}
    out = defaultdict(float)
    for s in spans:
        layer = layer_of(s["name"])
        if layer is None:
            continue
        dur = s["end"] - s["start"]
        cs = kids[s["id"]]
        if s["attrs"].get("slot"):
            covered = 0.0
            if s["name"].endswith(".addBatch"):
                trig = by_id[s["parent"]]
                covered = min(dur, _covered(trig, [c for c in kids[trig["id"]]
                                                   if not c["attrs"].get("slot")]))
        elif any(c["attrs"].get("slot") for c in cs):
            covered = _covered(s, [c for c in cs if c["attrs"].get("slot")])
        else:
            covered = _covered(s, cs)
        out[layer] += max(0.0, dur - covered) / 1e3
    return out


def detail(raw, verdicts):
    """Every per-layer metric, module-specific ones included
    (a module the workload does not drive reads 0)."""
    ops, spans = ok_ops(raw), raw["spans"]
    m = {}
    lat = [o["lat_s"] for o in ops]
    m["op_p50_s"] = metric(med(lat), "s")
    m["pass_s"] = metric(med([p["wall_s"] for p in ok_passes(raw)]), "s")
    t, pct = tail(lat)
    m["op_tail_s"], m["op_tail_pct"] = metric(t, "s"), metric(pct, "%")
    stored = verdicts["stored"]
    walls = [p["wall_s"] for p in ok_passes(raw)]
    rows = med([s["rows"] for s in stored])
    m["rows_per_s"] = metric(rows / med(walls) if walls and rows else 0.0, "rows/s")
    m["stored_files"] = metric(med([s["files"] for s in stored]), "count")
    m["stored_mb"] = metric(med([s["bytes"] for s in stored]) / MB, "MB")
    m["fail_ratio"] = metric(verdicts["failed"] / max(1, verdicts["attempted"]), "ratio")

    good_ops = {s["op_id"] for s in spans if s["name"] == "op"}
    n_ops = max(1, len(good_ops))
    st = self_times(spans)
    for l in LAYERS:
        m[f"{l}.self_s"] = metric(st.get(l, 0.0) / n_ops, "s")

    # triggers, from each delivery's per-sink progress (pipeline, ingest)
    trig = defaultdict(list)
    for o in ops:
        for sink, d in o["parts"].items():
            if isinstance(d, dict) and "triggerExecution" in d:
                trig[sink].append(d)
    all_trig = [d for ds in trig.values() for d in ds]
    sec = lambda d, *ks: sum(d.get(k, 0) for k in ks) / 1e3
    pipe = trig["pipeline.parquet"] + trig["pipeline.fidelity"]
    m["pipeline.add_batch_s"] = metric(med([sec(d, "addBatch") for d in pipe]), "s")
    for sink in ("parquet", "fidelity"):
        m[f"pipeline.{sink}.trigger_p50_s"] = metric(
            med([sec(d, "triggerExecution") for d in trig[f"pipeline.{sink}"]]), "s")
    m["pipeline.offsets_s"] = metric(med([sec(d, "latestOffset", "getBatch") for d in all_trig]), "s")
    m["pipeline.commit_s"] = metric(med([sec(d, "walCommit", "commitOffsets") for d in all_trig]), "s")
    per_pass = len(pipe) / max(1, len(ok_passes(raw)))
    pstored = stored if pipe else []
    m["pipeline.files_per_trigger"] = metric(
        med([s["files"] for s in pstored]) / per_pass if pstored and per_pass else 0.0, "count")
    m["pipeline.bytes_per_row"] = metric(
        med([s["bytes"] / s["rows"] for s in pstored]) if pstored else 0.0, "bytes")
    for k in KINDS:
        ds = trig[f"streaming.{k}"]
        m[f"streaming.{k}.add_batch_p50_s"] = metric(med([sec(d, "addBatch") for d in ds]), "s")
        m[f"streaming.{k}.trigger_p50_s"] = metric(med([sec(d, "triggerExecution") for d in ds]), "s")
        if k != "embed":
            m[f"streaming.{k}.compact_trigger_s"] = metric(
                med([sec(d, "triggerExecution") for d in ds if d.get("compacted")]), "s")
        probed = [d for d in ds if d.get("bloom_probable", -1) >= 0 and d.get("unique_in", 0) > 0]
        m[f"streaming.{k}.bloom_probable_ratio"] = metric(
            sum(d["bloom_probable"] for d in probed) / sum(d["unique_in"] for d in probed)
            if probed else 0.0, "ratio")
        kst = [s[k] for s in stored if k in s]
        m[f"streaming.{k}.index_files"] = metric(med([s["files"] for s in kst]), "count")
        m[f"streaming.{k}.index_mb"] = metric(med([s["bytes"] for s in kst]) / MB, "MB")

    # catalog: per pass sums, median over passes
    fam = defaultdict(lambda: defaultdict(float))
    for o in ops:
        if "family" in o["parts"]:
            fam[o["pass"]][o["parts"]["family"]] += o["lat_s"] - o["parts"]["build_s"]
            fam[o["pass"]]["build"] += o["parts"]["build_s"]
    for f in FAMILIES + ["build"]:
        m[f"catalog.{f}_s"] = metric(med([v[f] for v in fam.values()]), "s")

    # spark.plan / spark.exec / jvm, per op from the spans
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op_id"]].append(s)
    plan = defaultdict(float)
    exec_ = defaultdict(float)
    skews, busy_total, wall_total = [], 0.0, 0.0
    for op_id, ss in by_op.items():
        op = [s for s in ss if s["name"] == "op"]
        if not op:
            continue
        op = op[0]
        wall = (op["end"] - op["start"]) / 1e3
        wall_total += wall
        for s in ss:
            d = (s["end"] - s["start"]) / 1e3
            n = s["name"]
            if n in ("spark.plan.analysis", "spark.plan.optimization", "spark.plan.planning"):
                plan[n.split(".")[-1]] += d
            elif n == "spark.plan.query_planning":
                plan["planning"] += d
            elif n == "jvm.gc":
                exec_["gc"] += d
            elif n == "spark.job":
                exec_["jobs"] += 1
            elif n == "spark.stage":
                a = s["attrs"]
                exec_["stages"] += 1
                exec_["tasks"] += a["tasks"]
                exec_["busy"] += a["task_busy_ms"] / 1e3
                exec_["task_gc"] += a["task_gc_ms"] / 1e3
                exec_["shuf_w"] += a["shuffle_write_bytes"] / MB
                exec_["shuf_r"] += a["shuffle_read_bytes"] / MB
                exec_["spill"] += a["spill_bytes"] / MB
                busy_total += a["task_busy_ms"] / 1e3
                if a["task_median_ms"] > 0:
                    skews.append(a["task_max_ms"] / a["task_median_ms"])
        jobs = [(s["start"], s["end"]) for s in ss if s["name"] == "spark.job"]
        exec_["gap"] += max(0.0, wall - _union(jobs) / 1e3)
    for ph in ("analysis", "optimization", "planning"):
        m[f"spark.plan.{ph}_s"] = metric(plan[ph] / n_ops, "s")
    m["spark.exec.jobs_per_op"] = metric(exec_["jobs"] / n_ops, "count")
    m["spark.exec.stages_per_op"] = metric(exec_["stages"] / n_ops, "count")
    m["spark.exec.tasks_per_op"] = metric(exec_["tasks"] / n_ops, "count")
    m["spark.exec.driver_gap_s"] = metric(exec_["gap"] / n_ops, "s")
    m["spark.exec.task_busy_s"] = metric(exec_["busy"] / n_ops, "s")
    cores = raw["context"]["nproc"]
    m["spark.exec.core_util"] = metric(busy_total / (wall_total * cores) if wall_total else 0.0, "ratio")
    m["spark.exec.task_skew"] = metric(statistics.fmean(skews) if skews else 0.0, "ratio")
    m["spark.exec.shuffle_write_mb"] = metric(exec_["shuf_w"] / n_ops, "MB")
    m["spark.exec.shuffle_read_mb"] = metric(exec_["shuf_r"] / n_ops, "MB")
    m["spark.exec.spill_mb"] = metric(exec_["spill"] / n_ops, "MB")
    m["jvm.jit_cpu_s"] = metric(per_op(raw, "jit_cpu_s"), "s")
    m["jvm.gc_cpu_s"] = metric(per_op(raw, "gc_cpu_s"), "s")
    m["jvm.gc_s"] = metric(exec_["gc"] / n_ops, "s")
    m["jvm.task_gc_s"] = metric(exec_["task_gc"] / n_ops, "s")
    m["jvm.heap_peak_mb"] = metric(raw["jvm"]["heap_peak_mb"], "MB")
    m["jvm.peak_rss_mb"] = metric(raw["jvm"]["peak_rss_mb"], "MB")
    m["host.steal_pct"] = metric(max(0.0, raw["context"]["steal_pct"]), "%")
    # generic slots: the program layer and body slot this workload drives
    prog = {"pipeline": "pipeline", "ingest": "streaming", "catalog": "catalog"}[raw["workload"]]
    m["program.self_s"] = m[f"{prog}.self_s"]
    slots = ([sec(d, "addBatch") for d in all_trig] if all_trig else
             [o["lat_s"] - o["parts"]["build_s"] for o in ops])
    m["program.slot_p50_s"] = metric(med(slots), "s")
    assert set(m) == set(FEEDS), set(m) ^ set(FEEDS)
    return m


# The per-layer metrics of BENCHMARK.json: measured on every workload, so
# none reads a constant where a workload bypasses a module or a phase rounds
# to 0 ms (analysis outside catalog, spill, single-task skew, the tail's
# percentile). The rest is printed by the traced run and by this script.
PER_LAYER = ["op_p50_s", "pass_s", "program.self_s", "program.slot_p50_s", "op_tail_s",
             "spark.plan.self_s", "spark.plan.optimization_s", "spark.plan.planning_s",
             "spark.exec.self_s", "spark.exec.jobs_per_op", "spark.exec.stages_per_op",
             "spark.exec.tasks_per_op", "spark.exec.driver_gap_s",
             "spark.exec.task_busy_s", "spark.exec.core_util",
             "spark.exec.shuffle_write_mb", "spark.exec.shuffle_read_mb", "jvm.self_s",
             "jvm.jit_cpu_s", "jvm.gc_cpu_s", "jvm.gc_s", "jvm.task_gc_s",
             "jvm.heap_peak_mb", "jvm.peak_rss_mb", "host.steal_pct"]
FEEDS["program.self_s"] = ("s", "op_p50_s on the workload's own layer "
                           "(pipeline / streaming / catalog)")
FEEDS["program.slot_p50_s"] = ("s", "op_p50_s: addBatch (pipeline, ingest) or key "
                               "execution (catalog)")

WORKLOAD_PREFIXES = {"pipeline": ("pipeline.", "rows_per_s", "stored_"),
                     "ingest": ("streaming.", "pipeline.offsets_s", "pipeline.commit_s",
                                "rows_per_s", "stored_"),
                     "catalog": ("catalog.",)}


def applies(name, workload):
    """Whether a module-specific metric measures something on `workload`."""
    if any(name.startswith(l + ".") for l in ("pipeline", "streaming", "catalog")) \
            or name.startswith(("rows_per_s", "stored_")):
        return name.startswith(WORKLOAD_PREFIXES[workload])
    return True




def report(workload):
    runs = []
    for p in glob.glob(os.path.join(RESULTS, f"{workload}-s*-t*.json")):
        with open(p) as f:
            runs.append((os.path.getmtime(p), json.load(f)))
    traced = sorted((r for r in runs if r[1]["trace"] == 1), key=lambda r: r[0])
    plain = [r[1] for r in runs if r[1]["trace"] == 0]
    print(f"== {workload}: {len(traced)} traced run(s), {len(plain)} untraced")
    if not traced:
        return
    run = traced[-1][1]
    print(f"   latest traced run: seed {run['seed']}, {run['seconds']} s, "
          f"context {run['context']}")
    layer_self = {l: run["detail"][f"{l}.self_s"]["value"] for l in LAYERS}
    for name, m in run["detail"].items():
        if not applies(name, workload):
            continue
        layer = next((l for l in sorted(LAYERS, key=len, reverse=True)
                      if name.startswith(l + ".")), None)
        selfs = f"{layer_self[layer]:.4f} s/op" if layer in layer_self else "-"
        print(f"   {name:<38} {m['value']:>12.5g} {m['unit']:<7} "
              f"layer self {selfs:<14} feeds {FEEDS[name][1]}")
    # Overhead against the untraced run of the same seed when there is one
    # (run it right before the traced one: host speed drifts over minutes),
    # else against the untraced runs' median. setup_s is the control: no
    # tracing is on during set-up, so its change is the host's drift.
    # (results saved by another version of the benchmark are skipped)
    plain = [r for r in plain if r["end_to_end"].keys() == run["end_to_end"].keys()]
    pair = [r for r in plain if r["seed"] == run["seed"]]
    if plain:
        print(f"   trace overhead (traced / untraced - 1), against "
              + (f"the untraced run of seed {run['seed']}:" if pair
                 else f"the median of {len(plain)} untraced runs:"))
        for name, m in run["end_to_end"].items():
            base = (pair[0]["end_to_end"][name]["value"] if pair
                    else med([r["end_to_end"][name]["value"] for r in plain]))
            if base:
                print(f"     {name:<20} {100 * (m['value'] / base - 1):+7.2f} %")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["pipeline", "ingest", "catalog"])
    a = ap.parse_args()
    for w in [a.workload] if a.workload else ["pipeline", "ingest", "catalog"]:
        report(w)


if __name__ == "__main__":
    main()

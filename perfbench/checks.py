"""Correctness checks, run after timing, and the failure accounting.

Every timed op is attempted once. An op fails when it raised, or when the
output it contributed to does not match the reference computed here:

- pipeline: per pass, the parquet sink's rows equal the source projection
  (row count plus an order-independent hash of (b, partition, offset), with
  null or invalid-UTF-8 payloads mapped to ""), and the fidelity sink's files
  are exactly the partition_{p}_batch_{b} layout, each holding its chunk of b
  values in offset order. A mismatch fails every op of the pass.
- ingest: per pass, the exact manifest's ids equal a DuckDB first-wins
  replay of the deliveries; no planted re-send or near-duplicate survives in
  the fuzzy or embed index; the embed index keeps every organic vector.
- catalog: each sampled key's result hash-matches DuckDB running the key's
  oracle SQL (tools/check_oracle.py); a mismatch fails every op of that key.
"""
import glob
import json
import math
import os
import re
import subprocess
import sys
from collections import defaultdict

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def catalog_keys():
    with open(os.path.join(HERE, "catalog_keys.txt")) as f:
        return [k.strip() for k in f if k.strip() and not k.startswith("#")]


def _files(pattern):
    fs = glob.glob(pattern, recursive=True)
    return len(fs), sum(os.path.getsize(f) for f in fs)


def _payload(v):
    if v is None:
        return ""
    try:
        return v.decode("utf-8")
    except UnicodeDecodeError:
        return ""


BATCH_SIZE = 1000  # the sinks' batchSize in the harness


def check_pipeline(inp, pass_dir):
    con = duckdb.connect()
    deliveries = sorted(glob.glob(f"{inp}/delivery_*.parquet"))
    src = [pq.read_table(f, columns=["value", "partition", "offset"]).to_pydict()
           for f in deliveries]
    rows = [(_payload(v), p, o) for d in src
            for v, p, o in zip(d["value"], d["partition"], d["offset"])]
    expected = pa.table({"b": [r[0] for r in rows],
                         "partition": pa.array([r[1] for r in rows], pa.int32()),
                         "offset": pa.array([r[2] for r in rows], pa.int64())})
    con.register("expected", expected)
    q = "SELECT count(*), sum(hash(b, partition, \"offset\")::HUGEINT) FROM {}"
    want = con.execute(q.format("expected")).fetchone()
    got = con.execute(q.format(f"'{pass_dir}/parquet/out/*.parquet'")).fetchone()
    problems = []
    if tuple(got) != tuple(want):
        problems.append(f"parquet sink rows/hash {got} != source projection {want}")
    # fidelity: per delivery, per partition, offset order, BATCH_SIZE chunks
    layout = {}
    base = defaultdict(int)
    for d in src:
        per_p = defaultdict(list)
        for v, p, o in sorted(zip(d["value"], d["partition"], d["offset"]),
                              key=lambda r: (r[1], r[2])):
            per_p[p].append(_payload(v))
        for p, bs in per_p.items():
            for c in range(math.ceil(len(bs) / BATCH_SIZE)):
                layout[f"partition_{p}_batch_{base[p] + c}.parquet"] = \
                    bs[c * BATCH_SIZE:(c + 1) * BATCH_SIZE]
            base[p] += math.ceil(len(bs) / BATCH_SIZE)
    out = f"{pass_dir}/fidelity/out"
    names = {f for f in os.listdir(out) if f.endswith(".parquet")}
    if names != set(layout):
        problems.append(f"fidelity files: {len(names)} written, {len(layout)} expected, "
                        f"{len(names ^ set(layout))} names differ")
    else:
        bad = [n for n in sorted(names)
               if pq.read_table(f"{out}/{n}").column("b").to_pylist() != layout[n]]
        if bad:
            problems.append(f"fidelity contents differ in {len(bad)} files, e.g. {bad[0]}")
    stored = {"files": len(names) + _files(f"{pass_dir}/parquet/out/*.parquet")[0],
              "bytes": _files(f"{out}/*.parquet")[1]
              + _files(f"{pass_dir}/parquet/out/*.parquet")[1],
              "rows": len(rows)}
    return problems, stored


def check_ingest(inp, pass_dir):
    con = duckdb.connect()
    with open(f"{inp}/planted.json") as f:
        planted = json.load(f)
    problems = []
    exp = f"{pass_dir}/export"
    for kind in ("corpus", "fuzzy", "embed"):
        if not os.path.isdir(f"{exp}/{kind}"):
            return [f"no {kind} export (index unreadable)"], {}
    replay = {r[0] for r in con.execute(f"""
        SELECT doc_id FROM (
          SELECT doc_id, row_number() OVER (
                   PARTITION BY text ORDER BY filename, doc_id) AS rn
          FROM read_parquet('{inp}/docs/delivery_*.parquet', filename=true))
        WHERE rn = 1""").fetchall()}
    ids = lambda kind, c: {r[0] for r in con.execute(
        f"SELECT {c} FROM '{exp}/{kind}/*.parquet'").fetchall()}
    corpus = ids("corpus", "doc_id")
    if corpus != replay:
        problems.append(f"exact manifest differs from first-wins replay: "
                        f"{len(corpus - replay)} extra, {len(replay - corpus)} missing")
    fuzzy = ids("fuzzy", "doc_id")
    leaked = fuzzy & set(planted["docs_exact"] + planted["docs_near"])
    if leaked or not fuzzy:
        problems.append(f"fuzzy index: {len(leaked)} planted duplicates survive, "
                        f"{len(fuzzy)} ids kept")
    embed = ids("embed", "vec_id")
    organic = {r[0] for r in con.execute(
        f"SELECT vec_id FROM '{inp}/vecs/delivery_*.parquet'").fetchall()} - set(planted["vecs"])
    if embed != organic:
        problems.append(f"embed index: {len(embed & set(planted['vecs']))} planted "
                        f"re-encodes survive, {len(organic - embed)} organic vectors missing")
    stored = {}
    for kind in ("corpus", "fuzzy", "embed"):
        n, b = _files(f"{pass_dir}/{kind}/**/*.parquet")
        stored[kind] = {"files": n, "bytes": b}
    stored["files"] = sum(v["files"] for v in stored.values())
    stored["bytes"] = sum(v["bytes"] for k, v in stored.items() if k != "files")
    stored["rows"] = sum(pq.read_metadata(f).num_rows
                         for f in glob.glob(f"{inp}/*/delivery_*.parquet"))
    return problems, stored


def check_catalog(inp, exports):
    """Per-key verdicts from tools/check_oracle.py over the sample's dumps."""
    verdict = {}
    try:
        out = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                              exports["verify_dir"], inp],
                             cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=120).stdout
    except subprocess.TimeoutExpired:
        out = ""
        verdict = {k: ("ERR", "oracle check timed out") for k in catalog_keys()}
    for line in out.splitlines():
        m = re.match(r"^(OK|TOLOK|SKIP|ROWS|VALUES|SCHEMA|ERR|NODUMP|TOLBAD)\s+(\S+)\s*(.*)", line)
        if m:
            verdict[m.group(2)] = (m.group(1), m.group(3)[:200])
    for key, err in exports.get("dump_failed", {}).items():
        verdict[key] = ("ERR", err)
    for key in catalog_keys():
        verdict.setdefault(key, ("ERR", "no verdict from check_oracle.py"))
    return verdict


def check(workload, inp, raw):
    ops = raw["ops"]
    failures = []
    for o in ops:
        if not o["ok"]:
            failures.append((f"{o['name']}@pass{o['pass']}", o["error"]))
    stored, keys = [], {}
    if workload in ("pipeline", "ingest"):
        for p, d in enumerate(raw["exports"]["pass_dirs"]):
            if not all(o["ok"] for o in ops if o["pass"] == p):
                continue
            try:
                probs, st = (check_pipeline(inp, d) if workload == "pipeline"
                             else check_ingest(inp, d))
            except Exception as e:  # unreadable output is a failed check
                probs, st = [f"check raised {type(e).__name__}: {e}"], {}
            if probs:
                for o in ops:
                    if o["pass"] == p:
                        o["ok"] = False
                failures.append((f"pass{p}", "; ".join(probs)))
            elif st:
                stored.append(st)
    else:
        keys = check_catalog(inp, raw["exports"])
        for key, (status, msg) in keys.items():
            if status not in ("OK", "TOLOK", "SKIP"):
                failures.append((key, f"{status} {msg}"))
                for o in ops:
                    if o["name"] == key:
                        o["ok"] = False
    return {"attempted": len(ops), "failed": sum(not o["ok"] for o in ops),
            "failures": failures, "stored": stored,
            "oracle": {k: v[0] for k, v in keys.items()}}

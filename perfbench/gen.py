"""Input generation for the benchmark: sf0.1-shaped base tables and the
per-workload delivery files derived from them.

The base tables (region … embeddings) have the schemas and value ranges of
the sf0.1 tables the catalog's DuckDB oracles were written against
(FIXTURES.md): independent uniform columns, 5% "dup"-suffixed document
copies, unit-norm 64-d embeddings. They come from a fixed generator seed, so
every workload seed sees the same tables; the workload seed only derives
the deliveries (pipeline, ingest) or the key order (catalog).
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
SF = 0.1
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def base_tables(out):
    """Write the ten base tables into `out` (skipped when already complete)."""
    done = os.path.join(out, "_done")
    if os.path.exists(done):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(TABLE_SEED)
    n = lambda base: int(base * SF)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{tmp}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{tmp}/nation.parquet")

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    nc = n(150000)
    _write(pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)}),
        f"{tmp}/customer.parquet")
    ns = n(10000)
    _write(pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": money(-999.99, 9999.99, ns)}),
        f"{tmp}/supplier.parquet")
    npart = n(200000)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": rng.integers(1, 51, npart, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)}),
        f"{tmp}/part.parquet")

    def days(start, end, size):
        lo = np.datetime64(start, "D")
        span = (np.datetime64(end, "D") - lo).astype(int)
        return (lo + rng.integers(0, span + 1, size)).astype("datetime64[us]")

    no = n(1500000)
    _write(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": pa.array(days("1995-01-01", "2001-08-01", no),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)}),
        f"{tmp}/orders.parquet")
    nl = n(6000000)
    _write(pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(days("1995-01-02", "2001-11-04", nl),
                               pa.timestamp("us"))}),
        f"{tmp}/lineitem.parquet")

    ne = n(1000000)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 24 * 3600 * 10**6
    ts = t0 + np.sort(rng.integers(0, month_us, ne)).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, nc // 10, ne, dtype=np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
        f"{tmp}/events.parquet")

    nd = n(50000)
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    _write(pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{tmp}/documents.parquet")

    nv = n(20000)
    emb = rng.standard_normal((nv, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv, dtype=np.int32)}),
        f"{tmp}/embeddings.parquet")

    open(f"{tmp}/_done", "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def _stamp(path, i):
    """File-stream sources order a backlog by modification time: space the
    deliveries a minute apart so trigger i always takes delivery i."""
    t = 1_600_000_000 + 60 * i
    os.utime(path, (t, t))


PARTITIONS = 4
PIPELINE_SPLIT = 100


def pipeline_inputs(base, out, seed, files):
    """Kafka-schema records (key, value, headers, topic, partition, offset,
    timestamp) from the events table: partition = user_id % 4, offsets
    dense per partition in event order. The seed splits the rows into
    PIPELINE_SPLIT equal deliveries (~1k rows, each in event order) of
    which the first `files` are written, and makes ~1% of payloads null or
    invalid UTF-8."""
    rng = np.random.default_rng(seed)
    ev = pq.read_table(f"{base}/events.parquet").to_pydict()
    n = len(ev["event_id"])
    part = [u % PARTITIONS for u in ev["user_id"]]
    nxt = [0] * PARTITIONS
    offsets = []
    for p in part:
        offsets.append(nxt[p])
        nxt[p] += 1
    bad = rng.random(n)
    values = []
    for i, props in enumerate(ev["props"]):
        if bad[i] < 0.005:
            values.append(None)
        elif bad[i] < 0.01:
            values.append(b"\xc3\x28" + props.encode())  # invalid UTF-8
        else:
            values.append(props.encode())
    schema = pa.schema([
        ("key", pa.binary()), ("value", pa.binary()),
        ("headers", pa.list_(pa.struct([("key", pa.string()),
                                        ("value", pa.binary())]))),
        ("topic", pa.string()), ("partition", pa.int32()),
        ("offset", pa.int64()), ("timestamp", pa.timestamp("us"))])
    table = pa.table({
        "key": [str(u).encode() for u in ev["user_id"]],
        "value": values,
        "headers": [[{"key": "event_type", "value": t.encode()}]
                    for t in ev["event_type"]],
        "topic": ["events"] * n,
        "partition": part,
        "offset": offsets,
        "timestamp": ev["ts"]}, schema=schema)
    os.makedirs(out)
    order = rng.permutation(n)
    rows = 0
    for i in range(files):
        path = f"{out}/delivery_{i:04d}.parquet"
        part = table.take(np.sort(order[i::PIPELINE_SPLIT]))
        _write(part, path)
        _stamp(path, i)
        rows += part.num_rows
    return {"rows": rows, "files": files}


INGEST_SPLIT = 30
PLANT_SHARE = 0.2


def ingest_inputs(base, out, seed, deliveries):
    """Documents and embeddings, each split by the seed into INGEST_SPLIT
    deliveries of which the first `deliveries` are written (a delivery's
    fixed cost, not its size, dominates its ingest time). Every delivery
    after the first also carries planted copies of rows from earlier
    deliveries: exact re-sends and " recrawl"-suffixed near-duplicates of
    documents, and positively rescaled re-encodes of embeddings, all under
    fresh ids. Returns the planted ids per kind."""
    rng = np.random.default_rng(seed)
    docs = pq.read_table(f"{base}/documents.parquet",
                         columns=["doc_id", "text", "lang"])
    vecs = pq.read_table(f"{base}/embeddings.parquet",
                         columns=["vec_id", "embedding", "label"])
    os.makedirs(f"{out}/docs")
    os.makedirs(f"{out}/vecs")
    planted = {"docs_exact": [], "docs_near": [], "vecs": []}
    fresh = iter(range(10_000_000, 20_000_000))

    def parts(table):
        order = rng.permutation(table.num_rows)
        return [table.take(np.sort(order[i::INGEST_SPLIT])) for i in range(deliveries)]

    doc_parts, vec_parts = parts(docs), parts(vecs)
    for i in range(deliveries):
        d, v = doc_parts[i], vec_parts[i]
        if i > 0:
            earlier = pa.concat_tables(doc_parts[:i])
            k = max(1, int(PLANT_SHARE * d.num_rows))
            src = earlier.take(rng.choice(earlier.num_rows, k, replace=False)).to_pydict()
            exact = rng.random(k) < 0.5
            ids = [next(fresh) for _ in range(k)]
            texts = [t if e else t + " recrawl" for t, e in zip(src["text"], exact)]
            for doc_id, e in zip(ids, exact):
                planted["docs_exact" if e else "docs_near"].append(doc_id)
            d = pa.concat_tables([d, pa.table({
                "doc_id": pa.array(ids, pa.int64()), "text": texts,
                "lang": src["lang"]}, schema=docs.schema)])
            earlier_v = pa.concat_tables(vec_parts[:i])
            k = max(1, int(PLANT_SHARE * v.num_rows))
            src = earlier_v.take(rng.choice(earlier_v.num_rows, k, replace=False))
            scale = rng.uniform(0.5, 2.0, k).astype(np.float32)
            emb = np.stack(src.column("embedding").to_numpy(zero_copy_only=False))
            ids = [next(fresh) for _ in range(k)]
            planted["vecs"].extend(ids)
            v = pa.concat_tables([v, pa.table({
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list((emb * scale[:, None]).astype(np.float32)),
                                      pa.list_(pa.float32())),
                "label": src.column("label")}, schema=vecs.schema)])
        for kind, t in (("docs", d), ("vecs", v)):
            path = f"{out}/{kind}/delivery_{i:04d}.parquet"
            _write(t, path)
            _stamp(path, i)
    with open(f"{out}/planted.json", "w") as f:
        json.dump(planted, f)
    return {"rows": sum(p.num_rows for p in doc_parts + vec_parts)
            + sum(len(x) for x in planted.values()), "files": 2 * deliveries}

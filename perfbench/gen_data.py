"""Seeded input generation for the benchmark.

The benchmark never reads a fixed corpus: every input comes from the
run's `--seed`, so the program under test sees only what is generated
here. Two kinds of input are made:

* `corpus`: the ten engine tables (region … embeddings) in the schemas
  the operators read, at about a hundredth of the reference scale, with
  the same shapes of distribution (exponential event gaps and values,
  uniform categoricals, planted near-duplicate documents, unit-norm
  64-d embeddings).
* `ingest`: Kafka-shaped records (topic/partition/offset/value) for the
  reference pipeline, split into equal parquet files so a file stream
  with `maxFilesPerTrigger=1` gives equal micro-batches. About 10% of
  records miss a required field and about 1% are corrupt JSON; the seed
  places them, and the counts returned here are the generator's own,
  independent of what the pipeline decides.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 31-word vocabulary: the documents table is a bag of these tokens.
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split())


def _days(rng, start, span, n):
    d = np.datetime64(start) + rng.integers(0, span, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _events(rng, n, nusers):
    gaps = rng.exponential(1.0, size=n)
    ts = np.datetime64("2024-01-01") + (
        np.cumsum(gaps) / gaps.sum() * (30 * 86400e6 - 1e6)).astype("timedelta64[us]")
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, nusers, size=n).astype(np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, n):
    lens = rng.integers(10, 100, size=n)
    lang = np.array(["en", "zh", "es", "fr", "de"])[
        rng.choice(5, size=n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])]
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), size=k)]) for k in lens]
    # near-copies (tail cut by 1..3 tokens) and a few exact copies give
    # the dedup indexes real pairs to find
    n_near, n_exact = int(round(n * 0.047)), max(1, int(round(n * 0.0016)))
    victims = rng.integers(0, n, size=n_near + n_exact)
    targets = rng.integers(0, n, size=n_near + n_exact)
    for i, (v, t) in enumerate(zip(victims, targets)):
        if v == t:
            continue
        w = texts[t].split()
        cut = int(rng.integers(1, 4)) if i < n_near else 0
        if len(w) - cut >= 10:
            texts[v] = " ".join(w[:len(w) - cut])
            lang[v] = lang[t]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus(seed, out, scale):
    """Write the ten engine tables under `out`; `scale` 1.0 is a
    hundredth of the reference corpus (60k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    ncust, nsupp, nparts = int(1500 * scale), int(100 * scale), int(2000 * scale)
    norders, nevents, ndocs, nvecs = (int(15000 * scale), int(10000 * scale),
                                      int(500 * scale), int(500 * scale))
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    unit_price = np.exp(rng.uniform(np.log(21.0), np.log(105000.0), size=nparts))
    adj = np.array(["large", "hot", "small", "cold", "bright", "dark", "smooth", "rough"])
    noun = np.array(["ring", "bolt", "gear", "valve", "wheel", "plate", "rod", "pin"])
    counts = np.clip(rng.poisson(4.0, size=norders), 1, 7)
    okey = np.repeat(np.arange(norders), counts)
    nl = len(okey)
    qty = rng.integers(1, 51, size=nl).astype(np.float64)
    partkey = rng.integers(1, nparts, size=nl)
    vec = rng.standard_normal((nvecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    ev = _events(rng, nevents, max(1, ncust // 10))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(ncust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(ncust)],
            "c_nationkey": pa.array(rng.integers(0, 25, ncust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, ncust), 2),
            "c_mktsegment": seg[rng.integers(0, 5, ncust)].tolist()}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(nsupp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
            "s_nationkey": pa.array(rng.integers(0, 25, nsupp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, nsupp), 2)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(nparts), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, nparts)],
                                                  noun[rng.integers(0, 8, nparts)])],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, nparts)],
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                rng.integers(0, 6, nparts)].tolist(),
            "p_size": pa.array(rng.integers(1, 51, nparts), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, nparts) / 10.0, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(norders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ncust, norders), pa.int64()),
            "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, norders)].tolist(),
            "o_totalprice": np.round(rng.uniform(1000, 500000, norders), 2),
            "o_orderdate": _days(rng, "1995-01-01", 2405, norders),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, norders)].tolist()}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, nsupp, nl), pa.int64()),
            "l_linenumber": pa.array(
                np.arange(nl) - np.repeat(np.cumsum(counts) - counts, counts) + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * unit_price[partkey], 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].tolist(),
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)].tolist(),
            "l_shipdate": _days(rng, "1995-01-02", 2499, nl)}),
        "events": pa.table({k: pa.array(v) for k, v in ev.items()}),
        "documents": _documents(rng, ndocs),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(nvecs), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nvecs), pa.int32())}),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def ingest(seed, out, rows, files, warm_files, keys):
    """Write Kafka-shaped records as `files` equal parquet files under
    `out/warm` (the first `warm_files`) and `out/backlog` (the rest).
    Returns the generator's own counts plus a seeded sample of clean
    records for the round-trip check."""
    rng = np.random.default_rng([seed, 2])
    ev = _events(rng, rows, keys)
    ts = np.datetime_as_string(ev["ts"], unit="s")
    ts = np.char.replace(ts, "T", " ")
    kind = rng.random(rows)
    corrupt = kind < 0.01
    missing = (kind >= 0.01) & (kind < 0.11)
    drop_user = rng.random(rows) < 0.5
    values, sample = [], []
    sample_at = set(rng.choice(np.flatnonzero(~(corrupt | missing)), 50, replace=False).tolist())
    for i in range(rows):
        if corrupt[i]:
            values.append('{"event_id": %d, "user_id": ' % i)
            continue
        rec = {"event_id": int(ev["event_id"][i]), "user_id": int(ev["user_id"][i]),
               "ts": str(ts[i]), "event_type": str(ev["event_type"][i]),
               "value": float(ev["value"][i])}
        if missing[i]:
            del rec["user_id" if drop_user[i] else "ts"]
        values.append(json.dumps(rec))
        if i in sample_at:
            sample.append(dict(rec, offset=i, partition=int(ev["user_id"][i] % 4)))
    table = pa.table({
        "topic": pa.array(["events"] * rows, pa.string()),
        "partition": pa.array((ev["user_id"] % 4).astype(np.int32), pa.int32()),
        "offset": pa.array(ev["event_id"], pa.int64()),
        "value": pa.array(values, pa.string())})
    per = rows // files
    dirty = corrupt | missing
    counts = {"warm_valid": 0, "warm_dirty": 0, "backlog_valid": 0, "backlog_dirty": 0}
    for f in range(files):
        part = "warm" if f < warm_files else "backlog"
        lo, hi = f * per, (f + 1) * per if f < files - 1 else rows
        os.makedirs(os.path.join(out, part), exist_ok=True)
        path = os.path.join(out, part, f"part-{f:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        # the file source orders by modification time: keep file order
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
        n_dirty = int(dirty[lo:hi].sum())
        counts[f"{part}_dirty"] += n_dirty
        counts[f"{part}_valid"] += hi - lo - n_dirty
    counts["sample"] = sample
    return counts

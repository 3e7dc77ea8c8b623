#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and
the benchmark (see build.py). Each run works in its own directory under
`.bench_build/perfbench/runs/`, generates its inputs from the seed,
runs the workload in a fresh JVM at local[nproc], checks the results and
prints the metrics: the end-to-end set untraced, the per-layer set
traced (see README.md). The last stdout line is the result object.
"""
import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_data  # noqa: E402
import metrics as m  # noqa: E402

ROOT = build.ROOT
RUNS = os.path.join(build.BUILD, "runs")
UNTRACED = os.path.join(build.BUILD, "untraced")
RUN_TIMEOUT_S = 170  # a run's JVMs together, so the run ends within 180 s
deadline = None  # time.monotonic() by which this run's JVMs must be done
XMX = "2g"

# Operator mixes, drawn once (random.Random(2026), stratified by family
# in proportion to the registry) and fixed here: a per-seed draw would
# swap 10x-different ops between runs and drown every change in the
# spread. query_mix: families owning no shared index (q, mm, sample,
# etl and the small ones pooled). index_build_serve: consumers of the
# shared indexes (dedup, emb, graph, knn, text).
QUERY_OPS = (
    "etl_count_batch,mm_gif_meta,q22_wealthy,scd2_history,q_bootstrap_ci,q_did,q_regression,"
    "q_rolling_7d,q_posexplode,q_l28,q_welch_t,q_psi,sample_weighted")
INDEX_OPS = (
    "dedup_cross_source,emb_kmeans,graph_kcore,knn_mips_brute,text_term_dispersion,"
    "text_char_classes")
# corpus sizes relative to a hundredth of the reference corpus; the
# index build is mostly fixed per-job cost (about 8.5 s warm at 0.1,
# 12.5 s at 0.5 on 4 cores), so the smaller corpus leaves room for
# more than one timed build in a run
CORPUS_SCALE, INDEX_CORPUS_SCALE = 0.5, 0.1

# ingest input: one file per micro-batch, the first fifteen an untimed
# warm-up. Derby compiles every distinct INSERT text, and its compiler
# keeps getting faster for over a thousand statements: after a 3-batch
# warm-up the 20 timed batches still fell from ~3.4 s to ~0.8 s each,
# so the drain timed the JIT's progress rather than the pipeline. 90
# keys at 600 records a batch give ~6 rows per INSERT statement, the
# shape of the full-size catch-up (100k records, 1,500 keys, 10k-record
# batches) at an eighth of its size.
INGEST_ROWS, INGEST_FILES, INGEST_WARM_FILES, INGEST_KEYS = 21000, 35, 15, 90
# whole timed passes: query_mix runs passes until --seconds have passed
# and at least two are done; index_build_serve serves one pass during
# set-up, then times build/load pairs until --seconds have passed and
# at least INDEX_MIN_PAIRS are done
QUERY_MIN_PASSES, SERVE_PASSES, INDEX_MIN_PAIRS = 2, 1, 2

# BENCHMARK.json gates ingest_catchup and index_build_serve; query_mix
# runs the same way but stays out of the gated set, which must fit the
# whole check (22 runs a workload) into under an hour
WORKLOADS = ("ingest_catchup", "query_mix", "index_build_serve")

END_TO_END = {"setup_s": "s", "job_s": "s", "p50_ms": "ms", "heap_live_mb": "MiB"}

INDEXES = (
    "dedup_shingled", "dedup_hashed_index", "dedup_rare_index", "dedup_minhash_pairs",
    "dedup_minhash_sigs", "dedup_ngram_pairs", "dedup_cluster_labels", "dedup_simhash_docs",
    "knn_ivf_assigned", "knn_graph_edges", "text_tokens", "emb_km_assigned", "emb_pq_codes",
    "affinity_basket_pairs", "graph_trade_edges", "graph_und_edges")

PER_LAYER = dict(
    [("sources.latest_offset_ms", "ms"), ("sources.get_batch_ms", "ms"),
     ("ingest.valid_rows", "count"), ("ingest.dirty_rows", "count"),
     ("ingest.valid_ratio", "ratio"),
     ("streaming.batches", "count"), ("streaming.add_batch_ms", "ms"),
     ("streaming.add_batch_self_ms", "ms"), ("streaming.query_planning_ms", "ms"),
     ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
     ("streaming.coverage", "ratio"),
     ("sinks.write_ms", "ms"), ("sinks.write_wall_ms", "ms"), ("sinks.concurrency", "ratio"),
     ("sinks.write_calls", "count"), ("sinks.statements", "count"),
     ("sinks.rows_per_statement", "rows"), ("sinks.statement_bytes", "bytes"),
     ("sinks.write_failures", "count"), ("sinks.catalog_lookup_ms", "ms"),
     ("operators.build_ms", "ms"), ("operators.exec_ms", "ms"), ("operators.plan_ms", "ms"),
     ("operators.jobs_per_query", "count"), ("operators.stages_per_query", "count"),
     ("operators.tasks_per_query", "count"), ("operators.driver_gap_ms", "ms"),
     ("operators.task_cpu_ms", "ms"), ("operators.shuffle_bytes", "bytes"),
     ("operators.spill_bytes", "bytes"), ("operators.gc_ms", "ms"),
     ("operators.codegen_compiles", "count"), ("operators.codegen_ms", "ms"),
     ("operators.coverage", "ratio")]
    + [(f"SharedIndexes.build_ms.{i}", "ms") for i in INDEXES]
    + [("SharedIndexes.build_overlap", "ratio"), ("IndexStore.bytes", "bytes"),
       ("IndexStore.load_ms", "ms"),
       ("CachedPlans.persisted_rdds", "count"), ("CachedPlans.cached_bytes", "bytes"),
       ("CachedPlans.serve_new_persists", "count")])


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def steal_s():
    """Host CPU time stolen from this machine so far (all CPUs), s."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def jvm(classpath, run_dir, phase, out, args):
    """Run one benchmark JVM to completion; its raw result as a dict."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + build.ADD_OPENS + ["-cp", ":".join(classpath), "perfbench.Main",
                                "--phase", phase, "--run", run_dir, "--out", out]
           + [str(x) for x in args])
    log_path = os.path.join(run_dir, f"{phase}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             env=dict(os.environ, TMPDIR=tmp))
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{phase} JVM exited {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def load_check_module():
    spec = importlib.util.spec_from_file_location("graft_check",
                                                  os.path.join(ROOT, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ------------------------------------------------------------ workloads

def run_ingest(cp, run_dir, a, common):
    data = os.path.join(run_dir, "data")
    exp = gen_data.ingest(a.seed, os.path.join(data, "ingest"), INGEST_ROWS, INGEST_FILES,
                          INGEST_WARM_FILES, INGEST_KEYS)
    with open(os.path.join(data, "ingest", "sample_offsets.txt"), "w") as f:
        f.write(",".join(str(s["offset"]) for s in exp["sample"]))
    r = jvm(cp, run_dir, "ingest", os.path.join(run_dir, "ingest.json"),
            common + ["--data", data])
    first = r["first_timed_batch"]
    batches = [b for b in r["batches"] if b["batch"] >= first]
    dirty = {int(k): v for k, v in r["dirty_by_batch"].items()}

    problems = []
    if "error" in r:
        problems.append(f"query failed: {r['error']}")
    want_valid = exp["warm_valid"] + exp["backlog_valid"]
    want_dirty = exp["warm_dirty"] + exp["backlog_dirty"]
    got_dirty = sum(dirty.values())
    if r["sink_rows"] != want_valid:
        problems.append(f"sink holds {r['sink_rows']} rows, generator made {want_valid} valid")
    if got_dirty != want_dirty:
        problems.append(f"dirty sink saw {got_dirty} rows, generator made {want_dirty}")
    if r["sink_distinct_offsets"] != r["sink_rows"]:
        problems.append(f"{r['sink_rows'] - r['sink_distinct_offsets']} offsets landed twice")
    if len(batches) != INGEST_FILES - INGEST_WARM_FILES:
        problems.append(f"{len(batches)} timed micro-batches, expected "
                        f"{INGEST_FILES - INGEST_WARM_FILES}")
    got = {row["TOPICOFFSET"]: row for row in r["sample_rows"]}
    bad_sample = 0
    for s in exp["sample"]:
        row = got.get(s["offset"])
        ok = row is not None and (
            row["EVENT_ID"] == s["event_id"] and row["USER_ID"] == s["user_id"]
            and row["TS"] == s["ts"] and row["EVENT_TYPE"] == s["event_type"]
            and row["VALUE"] == s["value"] and row["TOPICNAME"] == "events"
            and row["TOPICPARTITION"] == s["partition"] and row["DAYOFYEAR"] == s["ts"][:10])
        bad_sample += not ok
    if bad_sample:
        problems.append(f"{bad_sample}/{len(exp['sample'])} sampled rows did not round-trip")
    attempted = exp["backlog_valid"] + exp["backlog_dirty"] + len(exp["sample"])
    failed = (abs(r["sink_rows"] - want_valid) + abs(got_dirty - want_dirty)
              + (r["sink_rows"] - r["sink_distinct_offsets"]) + bad_sample
              + (1 if "error" in r else 0))

    durations = [b["duration_ms"] for b in batches]
    drain_s = r["drain_ms"] / 1e3
    e2e = {"setup_s": r["setup_s"], "job_s": drain_s, "p50_ms": m.percentile(durations, 0.5),
           "heap_live_mb": r["heap_live_mb"]}
    named = {"setup_s": (r["setup_s"], "s"),
             "rows_per_s": (exp["backlog_valid"] / drain_s, "rows/s"),
             "batch_p50_ms": (e2e["p50_ms"], "ms"),
             "rss_peak_mb": (r["rss_peak_mb"], "MiB")}
    notes = [f"{len(durations)} micro-batches; {tail_note(durations)}",
             f"catalog lookups {['%.1f ms' % x for x in r['catalog_lookup_ms']]}",
             f"JIT settled {r['settle_ms']} ms before the clock"]
    layers = ingest_layers(r, batches, dirty, first) if a.trace else {}
    return e2e, named, layers, attempted, failed, problems, notes


def ingest_layers(r, batches, dirty, first):
    spans = r["spans"]
    writes = [s for s in spans if s["name"] == "sinks.write" and s["batch"] >= first]
    by_batch = {}
    for w in writes:
        by_batch.setdefault(w["batch"], []).append((w["t0"], w["t1"]))
    ph = lambda k: [b["phases"].get(k, 0) for b in batches]  # noqa: E731
    # add-batch self time: the phase minus the sink writes inside its
    # trigger (parse, enrich, format, shuffle)
    self_ms = [m.self_time(b["phases"].get("addBatch", 0),
                           (b["start_ms"], b["start_ms"] + b["phases"]["triggerExecution"]),
                           by_batch.get(b["batch"], []))
               for b in batches]
    intervals = [(w["t0"], w["t1"]) for w in writes]
    busy = sum(e - s for s, e in intervals)
    wall = m.union_length(intervals)
    valid = sum(w["rows"] for w in writes if w["ok"])
    n_dirty = sum(v for k, v in dirty.items() if k >= first)
    stmts = sum(w["statements"] for w in writes)
    covered = sum(sum(b["phases"].get(k, 0) for k in (
        "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"))
        for b in batches)
    return {
        "sources.latest_offset_ms": m.percentile(ph("latestOffset"), 0.5),
        "sources.get_batch_ms": m.percentile(ph("getBatch"), 0.5),
        "ingest.valid_rows": valid, "ingest.dirty_rows": n_dirty,
        "ingest.valid_ratio": valid / (valid + n_dirty) if valid + n_dirty else 0.0,
        "streaming.batches": len(batches),
        "streaming.add_batch_ms": m.percentile(ph("addBatch"), 0.5),
        "streaming.add_batch_self_ms": m.percentile(self_ms, 0.5),
        "streaming.query_planning_ms": m.percentile(ph("queryPlanning"), 0.5),
        "streaming.wal_commit_ms": m.percentile(ph("walCommit"), 0.5),
        "streaming.commit_offsets_ms": m.percentile(ph("commitOffsets"), 0.5),
        "streaming.coverage": covered / r["drain_ms"],
        "sinks.write_ms": busy, "sinks.write_wall_ms": wall,
        "sinks.concurrency": m.concurrency(intervals),
        "sinks.write_calls": len(writes), "sinks.statements": stmts,
        "sinks.rows_per_statement": valid / stmts if stmts else 0.0,
        "sinks.statement_bytes": sum(w["bytes"] for w in writes) / stmts if stmts else 0.0,
        "sinks.write_failures": sum(1 for w in writes if not w["ok"]),
        "sinks.catalog_lookup_ms": r["catalog_lookup_ms"][0],
    }


def op_layers(r, ok_samples):
    """Per-query means over the timed ops, attributed by time window."""
    spans = r["spans"]
    jobs = [(s["t0"], s["t1"]) for s in spans if s["name"] == "spark.job"]
    stages = [s for s in spans if s["name"] == "spark.stage"]
    phases = [s for s in spans if s["name"].startswith("catalyst.")]
    build = {(s["parent"], s["t0"]): s for s in spans if s["name"] == "operators.build"}
    execs = [s for s in spans if s["name"] == "operators.exec"]
    n = len(ok_samples)
    tot = dict.fromkeys(("build", "exec", "plan", "jobs", "stages", "tasks", "gap", "cpu",
                         "shuffle", "spill", "gc"), 0.0)
    inside = lambda t, s: s["t0"] <= t <= s["t1"]  # noqa: E731
    for s in ok_samples:
        win = (s["t0"], s["t1"])
        b = build.get((s["op"], s["t0"]))
        tot["build"] += b["t1"] - b["t0"] if b else 0.0
        tot["exec"] += sum(e["t1"] - e["t0"] for e in execs
                           if e["parent"] == s["op"] and inside(e["t0"], s))
        tot["plan"] += sum(p["t1"] - p["t0"] for p in phases if inside(p["t0"], s))
        mine = [j for j in jobs if win[0] <= j[0] <= win[1]]
        tot["jobs"] += len(mine)
        tot["gap"] += m.self_time(win[1] - win[0], win, mine)  # driver time outside jobs
        for st in stages:
            if inside(st["t0"], s):
                tot["stages"] += 1
                tot["tasks"] += st["tasks"]
                tot["cpu"] += st["cpu_ms"]
                tot["shuffle"] += st["shuffle_bytes"]
                tot["spill"] += st["spill_bytes"]
                tot["gc"] += st["gc_ms"]
    wall = sum(s["t1"] - s["t0"] for s in ok_samples)
    mean = lambda k: tot[k] / n if n else 0.0  # noqa: E731
    return {
        "operators.build_ms": mean("build"), "operators.exec_ms": mean("exec"),
        "operators.plan_ms": mean("plan"), "operators.jobs_per_query": mean("jobs"),
        "operators.stages_per_query": mean("stages"), "operators.tasks_per_query": mean("tasks"),
        "operators.driver_gap_ms": mean("gap"), "operators.task_cpu_ms": mean("cpu"),
        "operators.shuffle_bytes": mean("shuffle"), "operators.spill_bytes": mean("spill"),
        "operators.gc_ms": mean("gc"),
        "operators.coverage": (tot["build"] + tot["exec"]) / wall if wall else 0.0,
    }


def tail_note(values):
    level, v = m.tail(values, 0.99)
    if level is None:
        return f"no percentile has 10 of {len(values)} samples beyond it"
    return f"p{round(level * 100)} {v:.1f} ms is the highest with 10 of {len(values)} beyond"


def mean_pass(samples):
    """Mean wall time of one whole pass over the op mix, s."""
    passes = len({s["pass"] for s in samples})
    return sum(s["t1"] - s["t0"] for s in samples) / passes / 1e3


def per_op(samples):
    """Median wall per op, ms, slowest first."""
    by = {}
    for s in samples:
        if s["ok"]:
            by.setdefault(s["op"], []).append(s["t1"] - s["t0"])
    med = {op: statistics.median(v) for op, v in by.items()}
    return ", ".join(f"{op} {v:.0f}" for op, v in sorted(med.items(), key=lambda kv: -kv[1]))


def query_samples(r):
    ok = [s for s in r["samples"] if s["ok"]]
    walls = [s["t1"] - s["t0"] for s in ok]
    return ok, walls


def run_query_mix(cp, run_dir, a, common):
    data = os.path.join(run_dir, "data")
    corpus = os.path.join(data, "corpus")
    gen_data.corpus(a.seed, corpus, CORPUS_SCALE)
    r = jvm(cp, run_dir, "query_mix", os.path.join(run_dir, "query_mix.json"),
            common + ["--data", data, "--ops", QUERY_OPS,
                      "--min-samples", QUERY_MIN_PASSES * len(QUERY_OPS.split(","))])
    ok, walls = query_samples(r)
    problems = [f"warm-up: {x}" for x in r["warmup_failures"]]
    problems += [f"timed: {x}" for x in r["failures"]]

    # oracle: scripts/check.py against DuckDB, on the warm-up results
    first, second = os.path.join(run_dir, "first"), os.path.join(run_dir, "second")
    chk = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                          corpus, first], capture_output=True, text=True, timeout=120)
    verdicts = [ln for ln in chk.stdout.splitlines() if ln.startswith(("PASS ", "FAIL "))]
    oracle_fail = [ln for ln in verdicts if ln.startswith("FAIL ")]
    problems += [f"oracle: {ln}" for ln in oracle_fail]
    if chk.returncode != 0 and not oracle_fail:
        problems.append(f"oracle check exited {chk.returncode}: {chk.stderr[-500:]}")
    # results identical across passes (the two warm-up passes)
    check = load_check_module()
    ops = QUERY_OPS.split(",")
    differ = []
    for op in ops:
        try:
            same = (check.canon(check.read_spark(os.path.join(first, op)))
                    == check.canon(check.read_spark(os.path.join(second, op))))
        except Exception as e:  # unreadable output counts as a mismatch
            same = False
            problems.append(f"identity {op}: {e}")
        if not same:
            differ.append(op)
    problems += [f"{op}: result differs between passes" for op in differ]

    attempted = len(r["samples"]) + len(verdicts) + len(ops)
    failed = (len(r["samples"]) - len(ok) + len(oracle_fail) + len(differ)
              + len(r["warmup_failures"]))
    passes = max(s["pass"] for s in r["samples"]) + 1
    e2e = {"setup_s": r["setup_s"], "job_s": mean_pass(r["samples"]),
           "p50_ms": m.percentile(walls, 0.5), "heap_live_mb": r["heap_live_mb"]}
    named = {"setup_s": (r["setup_s"], "s"),
             "query_p50_ms": (e2e["p50_ms"], "ms"),
             "query_p90_ms": (m.percentile(walls, 0.9), "ms"),
             "queries_per_s": (len(walls) / (sum(walls) / 1e3), "1/s"),
             "rss_peak_mb": (r["rss_peak_mb"], "MiB")}
    notes = [f"{len(walls)} timed queries in {passes} passes over {len(ops)} ops; "
             f"{tail_note(walls)}",
             f"oracle: {len(verdicts) - len(oracle_fail)}/{len(verdicts)} ops match DuckDB",
             f"per-op median ms: {per_op(r['samples'])}",
             f"JIT settled {r['settle_ms']} ms before the clock"]
    layers = {}
    if a.trace:
        layers = op_layers(r, ok)
        layers["operators.codegen_compiles"] = r["codegen_compiles"]
        layers["operators.codegen_ms"] = r["codegen_ms"]
        layers["CachedPlans.persisted_rdds"] = r["persisted_rdds"]
        layers["CachedPlans.cached_bytes"] = r["cached_bytes"]
    return e2e, named, layers, attempted, failed, problems, notes


def run_index(cp, run_dir, a, common):
    data = os.path.join(run_dir, "data")
    gen_data.corpus(a.seed, os.path.join(data, "corpus"), INDEX_CORPUS_SCALE)
    r = jvm(cp, run_dir, "index", os.path.join(run_dir, "index.json"),
            common + ["--data", data, "--ops", INDEX_OPS, "--reps", INDEX_MIN_PAIRS,
                      "--min-samples", SERVE_PASSES * len(INDEX_OPS.split(","))])
    pairs = r["pairs"]
    ok, walls = query_samples(r)
    problems = [f"served: {x}" for x in r["failures"]]
    want = r["cold_build"]
    differ = [i for i, p in enumerate(pairs) if p["built"] != want or p["loaded"] != want]
    problems += [f"materializeAll differs in pair {i}: built {pairs[i]['built']} "
                 f"loaded {pairs[i]['loaded']}, cold build {want}" for i in differ]
    attempted = len(r["samples"]) + len(pairs) * len(want)
    failed = len(r["samples"]) - len(ok) + len(differ)
    build_s = statistics.median(p["build_ms"] for p in pairs) / 1e3
    load_s = statistics.median(p["load_ms"] for p in pairs) / 1e3
    index_ms = [sec * 1e3 for p in pairs for _, sec in p["build_log"]]
    e2e = {"setup_s": r["setup_s"], "job_s": build_s + load_s,
           "p50_ms": m.percentile(index_ms, 0.5), "heap_live_mb": r["heap_live_mb"]}
    named = {"setup_s": (r["setup_s"], "s"), "index_build_s": (build_s, "s"),
             "index_load_s": (load_s, "s"),
             "index_build_p50_ms": (e2e["p50_ms"], "ms"),
             "query_p50_ms": (m.percentile(walls, 0.5), "ms"),
             "queries_per_s": (len(walls) / (sum(walls) / 1e3), "1/s"),
             "rss_peak_mb": (r["rss_peak_mb"], "MiB")}
    notes = [f"{len(pairs)} timed build/load pairs after a cold build; build s "
             f"{['%.2f' % (p['build_ms'] / 1e3) for p in pairs]}, load s "
             f"{['%.2f' % (p['load_ms'] / 1e3) for p in pairs]}",
             f"{len(walls)} served queries over {len(INDEX_OPS.split(','))} consumer ops; "
             f"{tail_note(walls)}",
             f"{len(want)} indexes, identical on every build and load: {not differ}",
             f"per-op median ms: {per_op(r['samples'])}",
             f"JIT settled {r['settle_ms']} ms before the clock"]
    layers = {}
    if a.trace:
        layers = op_layers(r, ok)
        for i in INDEXES:
            layers[f"SharedIndexes.build_ms.{i}"] = statistics.median(
                dict(p["build_log"]).get(i, 0.0) * 1e3 for p in pairs)
        layers["SharedIndexes.build_overlap"] = statistics.median(
            sum(sec for _, sec in p["build_log"]) * 1e3 / p["build_ms"] for p in pairs)
        layers["IndexStore.bytes"] = pairs[-1]["store_bytes"]
        layers["IndexStore.load_ms"] = load_s * 1e3
        layers["CachedPlans.persisted_rdds"] = r["persisted_rdds"]
        layers["CachedPlans.cached_bytes"] = r["cached_bytes"]
        layers["CachedPlans.serve_new_persists"] = r["serve_new_persists"]
        layers["operators.codegen_compiles"] = r["codegen_compiles"]
        layers["operators.codegen_ms"] = r["codegen_ms"]
    return e2e, named, layers, attempted, failed, problems, notes


RUNNERS = {"ingest_catchup": run_ingest, "query_mix": run_query_mix,
           "index_build_serve": run_index}


def overhead_lines(workload, e2e):
    """Traced value against the median of this checkout's untraced runs."""
    path = os.path.join(UNTRACED, workload + ".jsonl")
    if not os.path.exists(path):
        return ["tracing overhead: no untraced run of this workload recorded yet"]
    with open(path) as f:
        past = [p for p in map(json.loads, filter(str.strip, f)) if set(p) == set(END_TO_END)]
    if not past:
        return ["tracing overhead: no untraced run of this workload recorded yet"]
    out = []
    for k, unit in END_TO_END.items():
        base = statistics.median(p[k] for p in past)
        out.append(f"tracing overhead {k}: {e2e[k]:.4g} {unit} traced vs {base:.4g} "
                   f"untraced median of {len(past)} ({(e2e[k] / base - 1) * 100:+.1f}%)")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    global deadline
    deadline = time.monotonic() + RUN_TIMEOUT_S  # the first run's build comes before it
    cores = nproc()
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    host = {"nproc": cores, "master": f"local[{cores}]", "xmx": XMX, "seed": a.seed,
            "commit": commit(), "source": os.path.basename(cp[1]),
            "loadavg_before": loadavg()}
    steal0 = steal_s()
    try:
        common = ["--seconds", a.seconds, "--seed", a.seed, "--cores", cores,
                  "--trace", a.trace]
        e2e, named, layers, attempted, failed, problems, notes = RUNNERS[a.workload](
            cp, run_dir, a, common)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host["loadavg_after"] = loadavg()
    host["steal_s"] = round(steal_s() - steal0, 2)

    correct = not problems and failed == 0
    print(f"# {a.workload}  host {json.dumps(host)}")
    for k, (v, unit) in named.items():
        print(f"{k} = {v:.4f} {unit}")
    print(f"failed_ratio = {failed / attempted:.4f} ratio ({failed}/{attempted})")
    for n in notes:
        print("# " + n)
    for p in problems:
        print("CHECK FAILED: " + p)
    print(f"correct = {str(correct).lower()}")
    if a.trace:
        for ln in overhead_lines(a.workload, e2e):
            print("# " + ln)
        values = {k: layers.get(k, 0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        os.makedirs(UNTRACED, exist_ok=True)
        with open(os.path.join(UNTRACED, a.workload + ".jsonl"), "a") as f:
            f.write(json.dumps(e2e) + "\n")
        values, units = e2e, END_TO_END
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

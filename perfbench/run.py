#!/usr/bin/env python3
"""graft's outside-in benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source (perfbench/build.sbt, reused while the sources are unchanged),
makes the workload's inputs from the seed, runs the engine process
(graft.perfbench.Main) with the broker and the load generator as
processes of their own, checks every output, and prints one JSON line:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
metrics of a run with Spark listeners, pool counters and spans switched
on. Spans go to perfbench/.work/trace-<workload>-<seed>.json, never to
standard output. Exits non-zero on a build failure, a failed run or any
wrong output. See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import benchlib as bl

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
SPARK_HOME = os.environ.get("SPARK_HOME") or (
    shutil.which("spark-submit") and
    os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))

# The workloads' own settings live in the engine (Main.scala, Settings);
# these are the sizes of the corpora the runner writes for ops_batch.
WORKLOADS = ("wc_open", "ops_batch")
DOCS, WARM_DOCS = 1000, 200
# Queries that serve warm runs from a graft.queries run artifact built by
# their first run: queries.artifact_s is their cold minus warm time.
MEMOISED = ("text_dup_spans",)
LATENCY_LIMIT_MS = 2000.0   # p99 limit a sustained ladder rate must meet
OPEN_LOOP_WARMUP_US = 2_000_000  # ticks due this soon after the first are not measured
FLAT_SHARE = 0.05           # backlog slope at most this share of the rate
ENGINE_HEAP = "2g"
ENGINE_TIMEOUT_S = 160
MIN_FREE_BYTES = 2 << 30
# Every JVM started here or by the engine (sbt, broker, load generator)
# inherits this: no JVM statistics files under /tmp.
JVM_ENV = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData")

# The registry's oracle for dedup_jaccard_prefix compares all pairs of
# documents and takes about 50 s in DuckDB at 1000 documents. This one
# computes the same pairs and the same rounded score,
# |A∩B| / (|A| + |B| - |A∩B|) over the distinct word 3-shingles, by joining
# on shared shingles; on the seeded corpus it gives results identical to
# the registry's oracle.
JACCARD_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      FROM t WHERE len(tk) >= 3),
n AS (SELECT doc_id, len(sh) AS n FROM s),
e AS (SELECT doc_id, unnest(sh) AS g FROM s),
i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
p AS (SELECT doc_a, doc_b, round(cast(inter AS double)
        / cast(na.n + nb.n - inter AS double), 6) AS jaccard
      FROM i JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b)
SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.5
"""
ORACLE_OVERRIDES = {"dedup_jaccard_prefix": JACCARD_ORACLE}

END_TO_END = [("throughput", "1/s"), ("op_p50_ms", "ms"), ("op_tail_ms", "ms"),
              ("peak_mem_mb", "MB"), ("setup_s", "s")]
PER_LAYER = [
    ("mq.fetches_per_mmsg", "count"), ("mq.buffer_hit_ratio", "ratio"),
    ("mq.prefetches", "count"), ("mq.prefetch_hit_ratio", "ratio"),
    ("mq.consumers_created", "count"), ("mq.retried", "count"),
    ("stream.triggers", "count"), ("stream.rows_per_trigger", "count"),
] + [(f"stream.{k}_ms_{q}", "ms")
     for k in ("latest_offset", "planning", "add_batch", "wal_commit", "commit_offsets")
     for q in ("p50", "p90")] + [
    ("stream.backlog_msgs", "count"), ("stream.backlog_slope", "msg/s"),
    ("wc.sustained_rps", "msg/s"), ("wc.p99_ms", "ms"),
    ("state.rows", "count"), ("state.mem_bytes", "bytes"), ("state.commit_ms", "ms"),
    ("sink.msgs_written", "count"), ("sink.write_ms_p50", "ms"), ("sink.write_ms_p90", "ms"),
    ("broker.append_ms_p50", "ms"), ("broker.append_ms_p99", "ms"),
    ("broker.append_errors", "count"), ("gen.lag_ms_p99", "ms"),
    ("spark.executions", "count"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.plan_ms", "ms"), ("spark.task_ms", "ms"),
    ("spark.task_cpu_ms", "ms"), ("spark.gc_ms", "ms"), ("spark.busy_frac", "ratio"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("queries.cold_s", "s"), ("queries.warm_s", "s"), ("queries.artifact_s", "s"),
    ("ops.dedup_s", "s"), ("ops.text_s", "s"), ("ops.pipeline_s", "s"),
    ("fn.minhash_ns_row", "ns"), ("fn.simhash_ns_row", "ns"), ("fn.winnow_ns_row", "ns"),
    ("fn.bpe_count_ns_row", "ns"), ("fn.nearest_centroids_ns_row", "ns"),
    ("fn.pq_adc_ns_row", "ns"),
    ("plans.topk_nodes", "count"),
    ("trace.overhead_frac", "ratio"), ("trace.spans", "count"),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compile the program and the harness unless the classes on disk were
    built from exactly these sources."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    log("building program and harness with sbt")
    props = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
             "-Dsbt.global.base=" + os.path.join(BENCH, "target", "sbt-global")]
    # Temporary files stay in the checkout too.
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    props += ["-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        props += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env = dict(JVM_ENV, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    logf = open(os.path.join(WORK, "build.log"), "w")
    # `products` compiles and copies the resources (the data source registration).
    p = subprocess.Popen(["sbt", "--batch"] + props + ["Compile / products"], cwd=BENCH, env=env,
                         stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        code = p.wait(timeout=600)
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        kill_group(p)
    if code != 0:
        fail(f"build failed (exit {code}); see {logf.name}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def kill_group(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    p.wait()


# ------------------------------------------------------------------ inputs

def documents_dir(seed, n, name):
    """Write the seeded documents table once per (seed, size); reuse it while
    its manifest matches."""
    d = os.path.join(WORK, "data", f"{name}-{seed}")
    manifest = {"seed": seed, "docs": n, "generator": hashlib.sha256(
        open(os.path.join(BENCH, "benchlib.py"), "rb").read()).hexdigest()}
    mpath = os.path.join(d, "manifest.json")
    if os.path.exists(mpath) and json.load(open(mpath)) == manifest:
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    import duckdb
    import pandas as pd
    df = pd.DataFrame(bl.documents(seed, n),
                      columns=["doc_id", "text", "lang", "source", "n_chars"])
    con = duckdb.connect()
    con.register("df", df)
    con.execute(f"COPY (SELECT * FROM df ORDER BY doc_id) TO "
                f"'{os.path.join(d, 'documents.parquet')}' (FORMAT PARQUET)")
    con.close()
    json.dump(manifest, open(mpath, "w"))
    return d


# ------------------------------------------------------------------ engine

def run_engine(args, run_dir, extra):
    out = os.path.join(run_dir, "raw.json")
    # A fixed, pre-touched heap: resident memory beyond it is then the
    # engine's native memory, not how far the collector happened to grow
    # the heap in this run. The heap's share of peak_mem_mb is its live data.
    cmd = ["java", f"-Xms{ENGINE_HEAP}", f"-Xmx{ENGINE_HEAP}", "-XX:+AlwaysPreTouch",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for m in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + run_dir, "-cp",
            CLASSES + os.pathsep + os.path.join(SPARK_HOME, "jars", "*"), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--out", out]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    logf = open(os.path.join(run_dir, "engine.log"), "w")
    # Few malloc arenas: otherwise the native peak depends on how many of
    # Spark's threads happened to allocate at once.
    env = dict(JVM_ENV, MALLOC_ARENA_MAX="2")
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = p.wait(timeout=ENGINE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        kill_group(p)
    if code != 0 or not os.path.exists(out):
        tail = open(logf.name).read()[-3000:]
        fail(f"engine failed (exit {code}); log tail:\n{tail}")
    return json.load(open(out))


# ----------------------------------------------------------------- metrics

def load(run_dir, name):
    return json.load(open(os.path.join(run_dir, name)))


def ms(us):
    return us / 1000.0


def duration_stats(progress):
    out = {}
    keys = {"latest_offset": "latestOffset", "planning": "queryPlanning",
            "add_batch": "addBatch", "wal_commit": "walCommit",
            "commit_offsets": "commitOffsets"}
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    for k, src in keys.items():
        vals = [p["durationMs"].get(src, 0) for p in data] or [0]
        out[f"stream.{k}_ms_p50"] = float(bl.median(vals))
        out[f"stream.{k}_ms_p90"] = float(bl.percentile(vals, 0.9))
    out[f"stream.triggers"] = len(data)
    out[f"stream.rows_per_trigger"] = (
        sum(p["numInputRows"] for p in data) / len(data) if data else 0)
    return out


def pool_layer(before, after, msgs_read):
    d = {k: after[k] - before[k] for k in after}
    return {
        "mq.fetches_per_mmsg": d["fetches"] * 1e6 / msgs_read if msgs_read else 0,
        "mq.buffer_hit_ratio": d["buffer_hits"] / msgs_read if msgs_read else 0,
        "mq.prefetches": d["prefetches"],
        "mq.prefetch_hit_ratio": d["prefetch_hits"] / d["prefetches"] if d["prefetches"] else 0,
        "mq.consumers_created": d["created"],
        "mq.retried": d["invalidated"] + d["stale_discards"] + d["evicted"],
    }


def spark_layer(c, wall_s):
    cpus = os.cpu_count() or 1
    return {
        "spark.executions": c["executions"], "spark.jobs": c["jobs"],
        "spark.stages": c["stages"], "spark.tasks": c["tasks"],
        "spark.plan_ms": c["plan_ms"], "spark.task_ms": c["task_ms"],
        "spark.task_cpu_ms": c["task_cpu_ms"], "spark.gc_ms": c["gc_ms"],
        "spark.busy_frac": c["task_ms"] / (wall_s * 1000 * cpus) if wall_s > 0 else 0,
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
        "spark.spill_bytes": c["spill_bytes"],
    }


def open_loop_stats(run_dir, rung):
    gen = load(run_dir, f"gen-{rung['topic']}.json")
    progress = rung["progress"]
    bs = bl.batches(progress)
    lat = bl.tick_latencies(gen["ticks"], bs)
    missing = sum(w for v, w in lat if v is None)
    # The new query's first triggers compile its code; measure after them.
    steady = bl.after_warmup(gen["ticks"], OPEN_LOOP_WARMUP_US)
    got = [(v, w) for v, w in bl.tick_latencies(steady, bs) if v is not None]
    pts = bl.backlog_points(steady, bs)
    appends = [e - s for s, e, _n in gen["appends"]]
    late = bl.lateness_us(gen["ticks"])
    counts = load(run_dir, f"counts-{rung['topic']}.json")
    # In complete mode every executed batch writes its whole count table.
    executed = [p for p in progress if "addBatch" in p["durationMs"]]
    sink_expected = sum(p["stateOperators"][0]["numRowsTotal"] for p in executed)
    writes = [e - s for s, e in rung["sink_writes"]]
    return {
        "rate": rung["rate"], "gen": gen, "progress": progress,
        "p50_ms": ms(bl.weighted_percentile(got, 0.5)) if got else None,
        "p90_ms": ms(bl.weighted_percentile(got, 0.9)) if got else None,
        # p99 only with at least ten messages beyond it.
        "p99_ms": (ms(bl.weighted_percentile(got, 0.99))
                   if sum(w for _, w in got) * 0.01 >= 10 else None),
        "missing": missing,
        "backlog": bl.median([b for _, b in pts]) if pts else 0,
        "slope": bl.slope(pts),
        "append_ms_p50": ms(bl.percentile(appends, 0.5)) if appends else 0,
        "append_ms_p99": ms(bl.percentile(appends, 0.99)) if appends else 0,
        "lag_ms_p99": ms(bl.percentile(late, 0.99)) if late else 0,
        "miscounted": bl.count_diff(gen["tally"], counts),
        "sink_missing": abs(rung["sink_rows"] - sink_expected) + rung["duplicate_rows"],
        "sink_ms_p50": ms(bl.percentile(writes, 0.5)) if writes else 0,
        "sink_ms_p90": ms(bl.percentile(writes, 0.9)) if writes else 0,
    }


def warm_drains(cap):
    """Drain times after the first, which still pays JIT compilation."""
    return cap["drain_s"][1:]


def wc_open(raw, run_dir, traced):
    cap = raw["capacity"]
    cap_gen = load(run_dir, "gen-cap.json")
    failed = bl.count_diff(cap_gen["tally"], load(run_dir, "counts-cap.json"))
    failed += cap["count_mismatches"] * cap["messages"] * 4 + cap["duplicate_rows"]
    attempted = len(cap["drain_s"]) * 4 * cap["messages"]
    rungs = [open_loop_stats(run_dir, r) for r in raw["open_loop"]]
    for r in rungs:
        attempted += r["gen"]["sent"] * 4
        failed += r["miscounted"] + r["missing"] * 4 + r["gen"]["errors"] + r["sink_missing"]
    ref = rungs[0]
    e2e = {
        "throughput": cap["messages"] / bl.median(warm_drains(cap)),
        # p90, not p99: about 25 triggers run in 10 s, so p99 is close to
        # the slowest trigger and varies too much from run to run.
        "op_p50_ms": ref["p50_ms"], "op_tail_ms": ref["p90_ms"],
    }
    layer = {}
    if traced:
        t = raw["capacity_traced"]
        layer.update(pool_layer(t["pool_before"], t["pool_after"], cap["messages"]))
        layer.update(duration_stats(ref["progress"]))
        layer.update(spark_layer(raw["open_loop"][0]["spark"], raw["open_loop"][0]["seconds"]))
        state = [p["stateOperators"][0] for p in ref["progress"]
                 if p.get("stateOperators") and p.get("numInputRows", 0) > 0]
        if state:
            layer["state.rows"] = state[-1]["numRowsTotal"]
            layer["state.mem_bytes"] = state[-1]["memoryUsedBytes"]
            layer["state.commit_ms"] = float(bl.median([s["commitTimeMs"] for s in state]))
        layer["stream.backlog_msgs"] = ref["backlog"]
        layer["stream.backlog_slope"] = ref["slope"]
        layer["wc.p99_ms"] = ref["p99_ms"]
        layer["wc.sustained_rps"] = bl.sustained_rate(
            [(r["rate"], r["slope"], r["p99_ms"]) for r in rungs], LATENCY_LIMIT_MS, FLAT_SHARE)
        layer["sink.msgs_written"] = raw["open_loop"][0]["sink_rows"]
        layer["sink.write_ms_p50"] = ref["sink_ms_p50"]
        layer["sink.write_ms_p90"] = ref["sink_ms_p90"]
        layer["broker.append_ms_p50"] = ref["append_ms_p50"]
        layer["broker.append_ms_p99"] = ref["append_ms_p99"]
        layer["broker.append_errors"] = sum(r["gen"]["errors"] for r in rungs)
        layer["gen.lag_ms_p99"] = ref["lag_ms_p99"]
        layer["trace.overhead_frac"] = t["drain_s"] / cap["drain_s"][-1] - 1
    gen_spans = [("append", s, e, {"n": n, "topic": r["topic"]})
                 for r in raw["open_loop"]
                 for s, e, n in load(run_dir, f"gen-{r['topic']}.json")["appends"]]
    return e2e, layer, attempted, failed, gen_spans


def oracle_check(run_dir, data_dir, names):
    """Compare each query's result with the DuckDB oracle's on the same
    input, by order-independent fingerprint. Oracle fingerprints are cached
    next to the input they were computed from."""
    import duckdb
    oracles = load(run_dir, "oracle.json")
    cache_path = os.path.join(data_dir, "oracle_fingerprints.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    con = duckdb.connect()
    con.execute(f"create view documents as select * from "
                f"read_parquet('{os.path.join(data_dir, 'documents.parquet')}')")
    bad = []
    for q in names:
        sql = ORACLE_OVERRIDES.get(q, oracles.get(q))
        res = os.path.join(run_dir, "results", q)
        if sql is None or not os.path.isdir(res):
            bad.append(q)
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in cache:
            d = con.sql(sql)
            cache[key] = bl.fingerprint(d.fetchall(), d.columns)
        s = con.sql(f"select * from read_parquet('{res}/*.parquet')")
        if not bl.same_result(bl.fingerprint(s.fetchall(), s.columns), cache[key]):
            bad.append(q)
    con.close()
    json.dump(cache, open(cache_path, "w"))
    if bad:
        log("oracle mismatch: " + ", ".join(bad))
    return len(bad)


FAMILIES = {"dedup": "ops.dedup_s", "text": "ops.text_s", "pipeline": "ops.pipeline_s"}


def ops_batch(raw, run_dir, traced, data_dir):
    b = raw["batch"]
    names = [q["name"] for q in b["cold"]]
    sweeps = [b["cold"]] + b["warm"]
    errors = sum(1 for s in sweeps for q in s if q["error"])
    attempted = len(names) * len(sweeps)
    failed = errors + oracle_check(run_dir, data_dir, names)
    warm = {q: bl.median([s[i]["seconds"] for s in b["warm"]]) for i, q in enumerate(names)}
    sweep_s = [sum(q["seconds"] for q in s) for s in b["warm"]]
    per_query_ms = [v * 1000 for v in warm.values()]
    e2e = {
        "throughput": len(names) / bl.median(sweep_s),
        "op_p50_ms": bl.median(per_query_ms), "op_tail_ms": max(per_query_ms),
    }
    layer = {}
    if traced:
        t = raw["batch_traced"]
        attempted += len(t)
        failed += sum(1 for q in t if q["error"])
        total = {k: sum(q["spark"][k] for q in t) for k in t[0]["spark"]}
        layer.update(spark_layer(total, sum(q["seconds"] for q in t)))
        layer["plans.topk_nodes"] = total["topk_nodes"]
        cold = {q["name"]: q["seconds"] for q in b["cold"]}
        layer["queries.cold_s"] = sum(cold.values())
        layer["queries.warm_s"] = sum(warm.values())
        layer["queries.artifact_s"] = sum(cold[q] - warm[q] for q in names if q in MEMOISED)
        for q in names:
            fam = FAMILIES.get(q.split("_")[0])
            if fam:
                layer[fam] = layer.get(fam, 0.0) + warm[q]
        for k, v in raw["kernels"].items():
            layer[f"fn.{k}_ns_row"] = bl.median(v["seconds"]) * 1e9 / v["rows"]
        layer["trace.overhead_frac"] = sum(q["seconds"] for q in t) / sweep_s[-1] - 1
    return e2e, layer, attempted, failed, []


# ------------------------------------------------------------------ trace

def write_trace(args, raw, gen_spans):
    spans = list(raw["spans"])
    for p in collect_progress(raw):
        start = bl.progress_ts_us(p)
        spans.append({"id": len(spans), "parent": None, "name": "trigger",
                      "start_us": start,
                      "end_us": start + p["durationMs"].get("triggerExecution", 0) * 1000,
                      "attrs": {"query": p.get("name"), "rows": p.get("numInputRows", 0),
                                "durationMs": p["durationMs"]}})
    for name, s, e, attrs in gen_spans:
        spans.append({"id": len(spans), "parent": -1, "name": name, "start_us": s,
                      "end_us": e, "attrs": attrs, "process": "generator"})
    bl.attach_orphans(spans)
    path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": spans,
                   "self_us": bl.self_times(spans)}, fh)
    return len(spans)


def collect_progress(raw):
    for key in ("capacity", "capacity_traced"):
        if key in raw:
            yield from raw[key]["progress"]
    for r in raw.get("open_loop", []):
        yield from r["progress"]


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Terminate through SystemExit, so the engine's process group is killed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found: run from the root of a graft checkout", 2)
    if not SPARK_HOME:
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH", 2)
    os.makedirs(WORK, exist_ok=True)
    free = shutil.disk_usage(WORK).free
    if free < MIN_FREE_BYTES:
        fail(f"only {free >> 20} MB free under {WORK}; need {MIN_FREE_BYTES >> 20} MB", 3)
    build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    extra, data_dir = {}, None
    if args.workload == "ops_batch":
        data_dir = documents_dir(args.seed, DOCS, "docs")
        extra["data"] = data_dir
        extra["warm-data"] = documents_dir(args.seed + 1, WARM_DOCS, "warm")

    raw = run_engine(args, run_dir, extra)
    traced = args.trace == 1
    if args.workload == "wc_open":
        e2e, layer, attempted, failed, gen_spans = wc_open(raw, run_dir, traced)
    else:
        e2e, layer, attempted, failed, gen_spans = ops_batch(raw, run_dir, traced, data_dir)
    # Native peak (resident memory beyond the pre-touched heap) plus the
    # heap's peak live data.
    e2e["peak_mem_mb"] = (raw["peak_rss_kb"] - raw["heap_committed_kb"]
                          + raw["live_heap_kb"]) / 1024.0
    e2e["setup_s"] = bl.median(raw["setup_s"])

    if traced:
        layer["trace.spans"] = write_trace(args, raw, gen_spans)
        metrics = {k: (float(layer.get(k, 0)), u) for k, u in PER_LAYER}
    else:
        missing = [k for k, _ in END_TO_END if e2e.get(k) is None]
        if missing:
            fail("no value for " + ", ".join(missing))
        metrics = {k: (float(e2e[k]), u) for k, u in END_TO_END}
    correct = failed == 0
    print(bl.render_line(correct, attempted, failed, metrics), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of SimSearch: served /search over generated GDELT-shaped
catalogs, and the batch query suite over fixed tables.

    python3 perfbench/run.py --workload search_small --seed 1 --seconds 10 --trace 0

Builds the harness (perfbench/build.sbt compiles the program's sources
next to it) when the sources changed, makes the workload's inputs, runs
the harness JVM, checks every answer, and prints as its last stdout line
one JSON object: correct, attempted, failed and the metrics (end-to-end
with --trace 0, per-layer with --trace 1). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

CORES = 4
RUN_LIMIT_S = 170
SAMPLE_PER_TENANT = 4  # requests per tenant re-scored by brute force

# rows: entities per tenant catalog; warmup: untimed requests per client
# before the timed phase (latency settles after about two on search_small)
WORKLOADS = {
    "search_small": dict(mode="search", rows=10_000, tenants=1, clients=1, warmup=2),
    "search_large": dict(mode="search", rows=30_000, tenants=2, clients=CORES, warmup=1),
    "batch_suite": dict(mode="batch"),
}
SETUP_REPS = 3  # set-ups per end-to-end run; a traced run sets up once
# batch_suite: fixed tables (a copy of the sf0.01 test tables), the index
# queries graft.Bench builds as set-up that this subset probes, and the
# subset: rank aggregation, text, and the ANN and dedup index probes.
TABLES = os.path.join(HERE, "data", "sf0.01")
RANK_AGG = ["q_multifacet", "q_multiweight", "q_sim_matrix", "q_pivot_multimetric"]
TEXT = ["q_word2vec", "q_winnow", "q_winnow_spans", "q_text_stats"]
ANN_PROBES = ["q_ann_idx", "q_ann_ivf_idx", "q_pq_ivf_idx"]
BATCH_INDEX = ANN_PROBES + ["q_dedup_incr"]
BATCH_QUERIES = RANK_AGG + TEXT + BATCH_INDEX
MOUNT_REPS = 3  # timed re-mounts per traced run, for sources.mount_ms
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_files():
    """Everything the build reads: the program's build and main sources,
    and the harness's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "src"), os.path.join(HERE, "project")]:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile with sbt when any source changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (src/main/scala) are not next to perfbench/")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    log("building the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return open(cp_file).read().strip()


# ------------------------------------------------------------------ inputs

def make_inputs(spec, seed, work):
    rng = np.random.default_rng(seed)
    catalogs, sources, info = [], [], []
    for t in range(spec["tenants"]):
        cat = gen.Catalog(rng, spec["rows"], f"tenant{t}")
        size, src = cat.write(os.path.join(work, "data"))
        catalogs.append(cat)
        sources.append(src)
        info.append({"name": cat.name, "rows": cat.n, "bytes": size})
    # enough requests that no client runs dry within one run
    n_req = 400
    requests = [[cat.request(rng) for _ in range(n_req)] for cat in catalogs]
    per_tenant = spec["clients"] // spec["tenants"]
    warmup = [[cat.request(rng) for _ in range(spec["warmup"] * per_tenant)]
              for cat in catalogs]
    return catalogs, sources, requests, warmup, info


# ------------------------------------------------------------------ metrics

def median(xs):
    return float(statistics.median(xs))


def tail(xs):
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, n); with 10 or fewer samples, the maximum."""
    s = sorted(xs)
    n = len(s)
    i = max(n - 11, 0) if n > 10 else n - 1
    return s[i], 100.0 * (i + 1) / n, n


def check_all(records, requests, catalogs):
    """Count failed records: a non-200 answer, a malformed body, or an
    exact-flagged result the brute-force scorer disagrees with (checked on
    the first SAMPLE_PER_TENANT requests of each tenant). Also returns how
    many requests were re-scored and how many exact results compared."""
    failed, problems, rescored, compared = 0, [], 0, 0
    brute = {}
    for rec in records:
        t, i = rec["tenant"], rec["index"]
        req = requests[t][i]
        if rec["code"] != 200:
            failed += 1
            problems.append(f"tenant {t} request {i}: HTTP {rec['code']}: {rec['body'][:200]}")
            continue
        b = None
        if i < SAMPLE_PER_TENANT:
            if (t, i) not in brute:
                brute[(t, i)] = catalogs[t].brute_force(req)
                rescored += 1
            b = brute[(t, i)]
        p, n = gen.check_response(rec["body"], req, catalogs[t], b)
        compared += n
        if p:
            failed += 1
            problems.append(f"tenant {t} request {i}: " + "; ".join(p[:3]))
    return failed, problems, rescored, compared


def search_end_to_end(obs):
    lat = [s["latency_ms"] for s in obs["served"] if s["code"] == 200]
    return {
        "setup_s": (median(obs["setup_s"]), "s"),
        "op_p50_ms": (median(lat), "ms"),
        "ops_per_s": (len(lat) / obs["timed_wall_s"], "1/s"),
    }


def search_per_layer(obs):
    tr = obs["traced"]
    n = len(tr)
    http_lat = [s["latency_ms"] for s in obs["served"] if s["code"] == 200]
    t_val, t_pct, t_n = tail(http_lat)
    mean = lambda key, scale=1.0: sum(r[key] for r in tr) / n * scale
    results = sum(len(b["rankedResults"]) for r in tr for b in json.loads(r["body"]))
    m = {
        "search_tail_ms": (t_val, "ms"),
        "cached_mb": (obs["cached_bytes"] / 1e6, "MB"),
        "service.overhead_ms": (median(http_lat) - obs["inproc_p50_ms"], "ms"),
        "trace.overhead_ms": (obs["traced_p50_ms"] - obs["inproc_p50_ms"], "ms"),
        "engine.parse_ms": (median([r["parse_ms"] for r in tr]), "ms"),
        "engine.search_ms": (median([r["search_ms"] for r in tr]), "ms"),
        "engine.respond_ms": (median([r["respond_ms"] for r in tr]), "ms"),
        "engine.jobs_per_req": (mean("jobs"), "count"),
        "engine.stages_per_req": (mean("stages"), "count"),
        "engine.tasks_per_req": (mean("tasks"), "count"),
        "operators.rank_agg_jobs_per_req": (mean("rank_agg_jobs"), "count"),
        "engine.codegen_compiles_per_req": (obs["codegen_compiles"] / n, "count"),
        "engine.codegen_ms_per_req": (obs["codegen_ms"] / n, "ms"),
        "engine.driver_gap_ms_per_req": (mean("driver_gap_ms"), "ms"),
        "engine.task_s_per_req": (mean("task_ms", 1e-3), "s"),
        "engine.cpu_s_per_req": (mean("cpu_ns", 1e-9), "s"),
        "engine.sched_wait_ms_per_req": (mean("sched_wait_ms"), "ms"),
        "engine.cached_blocks_per_req": (obs["cached_blocks_added"] / n, "count"),
        "sources.mount_ms": (median(obs["mount_ms"]), "ms"),
        "sources.bytes_read_per_req": (mean("bytes_read"), "bytes"),
        "sources.rows_read_per_req": (mean("rows_read"), "rows"),
        "sources.rows_read_per_result": (sum(r["rows_read"] for r in tr) / results, "rows"),
        "operators.shuffle_write_mb_per_req": (mean("shuffle_write", 1e-6), "MB"),
        "operators.spill_mb_per_req": (mean("spill", 1e-6), "MB"),
    }
    return m, {"search_tail_percentile": t_pct, "search_tail_n": t_n}


def query_medians(passes):
    """Per query, the median of its times over the passes; a query that
    failed in every pass (time NaN) is left out, and counted as failed."""
    times = {q: [p[q] for p in passes if p[q] == p[q]] for q in passes[0]}
    return {q: median(ts) for q, ts in times.items() if ts}


def batch_end_to_end(obs):
    per_query = query_medians(obs["passes"])
    total = sum(per_query.values())
    return {
        "setup_s": (median(obs["setup_s"]), "s"),
        "op_p50_ms": (median(per_query.values()) * 1e3, "ms"),
        "ops_per_s": (len(per_query) / total, "1/s"),
    }, {"batch_total_s": total, "query_s": per_query, "passes": len(obs["passes"])}


def batch_per_layer(obs):
    plain = query_medians(obs["passes"])
    traced = obs["traced"]
    n_pass = len(obs["traced_passes"])
    per_pass = lambda key, scale=1.0: sum(r[key] for r in traced) / n_pass * scale
    probes = [r for r in traced if r["query"] in ANN_PROBES]
    builds = obs["index_builds"]
    traced_total = sum(sum(p.values()) for p in obs["traced_passes"]) / n_pass
    m = {
        "cached_mb": (obs["cached_bytes"] / 1e6, "MB"),
        "trace.overhead_ms": ((traced_total - sum(plain.values())) / len(plain) * 1e3, "ms"),
        "batch.jobs": (per_pass("jobs"), "count"),
        "batch.stages": (per_pass("stages"), "count"),
        "batch.tasks": (per_pass("tasks"), "count"),
        "batch.task_s": (per_pass("task_ms", 1e-3), "s"),
        "batch.driver_gap_s": (per_pass("driver_gap_ms", 1e-3), "s"),
        "batch.shuffle_write_mb": (per_pass("shuffle_write", 1e-6), "MB"),
        "batch.spill_mb": (per_pass("spill", 1e-6), "MB"),
        "batch.rank_agg_s": (sum(plain.get(q, 0.0) for q in RANK_AGG), "s"),
        **{f"batch.{q}_s": (plain.get(q, 0.0), "s") for q in TEXT},
        "index.build_job_s": (sum(b["span_ms"] - b["uncovered_ms"] for b in builds) / 1e3, "s"),
        "index.commit_s": (sum(b["uncovered_ms"] for b in builds) / 1e3, "s"),
        "index.files_written": (obs["index_files_written"], "count"),
        "index.bytes_written": (obs["index_bytes_written"], "bytes"),
        "index.probe_files_read": (sum(r["index_files_read"] for r in probes) / n_pass, "count"),
        "index.probe_rows_read": (sum(r["index_rows_read"] for r in probes) / n_pass, "rows"),
    }
    return m, {"batch_total_s": sum(plain.values()), "query_s": plain}


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def with_all_layers(metrics):
    """Every per-layer metric of BENCHMARK.json; one a workload does not
    reach (a batch metric on a search workload and the reverse) reads 0
    and is named in the returned list."""
    missing = [(n, u) for n, u in per_layer_names() if n not in metrics]
    return {**metrics, **{n: (0.0, u) for n, u in missing}}, [n for n, _ in missing]


# ------------------------------------------------------------------ batch check

def canonical(v):
    """A value in a form that compares and prints the same whichever
    engine produced it."""
    if isinstance(v, dict):
        return tuple(sorted((k, canonical(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canonical(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and v != v:
        return "nan"
    if v is None or (not isinstance(v, (str, bytes, int, float, bool)) and
                     hasattr(v, "isoformat")):
        return None if v is None else v.isoformat()
    return v


def frame_digest(df):
    """(rows, order-insensitive hash) of a result frame."""
    cols = sorted(df.columns)
    lines = sorted(repr(tuple(canonical(v) for v in row))
                   for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(cols).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def oracle_digests(oracle):
    """(rows, hash) of every oracle query's DuckDB result over TABLES.
    They depend only on the SQL, the tables and DuckDB's version, so they
    are kept in out/oracle-cache.json and computed again only when one of
    those changes."""
    h = hashlib.sha256(duckdb.__version__.encode())
    names = sorted(n for n in os.listdir(TABLES) if n.endswith(".parquet"))
    for name in names:
        with open(os.path.join(TABLES, name), "rb") as f:
            h.update(name.encode() + f.read())
    tables = h.hexdigest()
    key = {q: hashlib.sha256((tables + sql).encode()).hexdigest() for q, sql in oracle.items()}
    path = os.path.join(HERE, "out", "oracle-cache.json")
    try:
        with open(path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    todo = [q for q in oracle if key[q] not in cache]
    if todo:
        con = duckdb.connect()
        for name in names:
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(TABLES, name)}'")
        for q in todo:
            cache[key[q]] = frame_digest(con.execute(oracle[q]).df())
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(cache, f)
    return {q: tuple(cache[key[q]]) for q in oracle}


def check_batch(verify_dir, queries):
    """Compare every query's verification output with its DuckDB oracle
    (graft.SparkEntry.oracleSql) over the same tables: row count and
    order-insensitive hash must match. Returns (failed queries, problems,
    digests)."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failed, problems, digests = set(), [], {}
    for q in queries:
        if q not in oracle:
            failed.add(q)
            problems.append(f"{q}: no oracle SQL")
    expected = oracle_digests({q: oracle[q] for q in queries if q in oracle})
    con = duckdb.connect()
    for q, want in expected.items():
        try:
            got = frame_digest(con.execute(
                f"SELECT * FROM '{os.path.join(verify_dir, q)}/*.parquet'").df())
        except duckdb.Error as e:  # no output: the query failed
            failed.add(q)
            problems.append(f"{q}: {str(e)[:300]}")
            continue
        digests[q] = {"rows": got[0], "hash": got[1], "oracle_rows": want[0],
                      "oracle_hash": want[1]}
        if got != want:
            failed.add(q)
            problems.append(f"{q}: rows/hash {got[0]}/{got[1][:12]} != oracle "
                            f"{want[0]}/{want[1][:12]}")
    return failed, problems, digests


# ------------------------------------------------------------------ main

def run_harness(plan, work, started):
    """Run the harness JVM on `plan`; return its observations."""
    plan_path, obs_path = os.path.join(work, "plan.json"), os.path.join(work, "obs.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={plan['tmp']}",
           "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", plan["classpath"], "perfbench.Main", plan_path, obs_path]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        # the program reads its fixtures relative to the repository root
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.stderr.write(open(jvm_log).read()[-4000:])
            fail("harness exceeded the run time limit")
    if rc != 0 or not os.path.exists(obs_path):
        sys.stderr.write(open(jvm_log).read()[-4000:])
        fail(f"harness exited with code {rc}")
    with open(obs_path) as f:
        return json.load(f)


def run_search(args, spec, plan, work, started):
    catalogs, sources, requests, warmup, info = make_inputs(spec, args.seed, work)
    plan.update({
        "mode": "search", "clients": spec["clients"],
        "client_tenant": [c % spec["tenants"] for c in range(spec["clients"])],
        "tenants": sources, "requests": requests, "warmup": warmup,
        "setup_reps": 1 if args.trace else SETUP_REPS, "mount_reps": MOUNT_REPS,
    })
    obs = run_harness(plan, work, started)
    records = obs["served"] + obs.get("inproc", []) + obs.get("traced", [])
    failed, problems, rescored, compared = check_all(records, requests, catalogs)
    if args.trace:
        metrics, extra = search_per_layer(obs)
    else:
        metrics, extra = search_end_to_end(obs), {}
    artifact = {
        "catalogs": info, "cycles": obs.get("cycles"),
        "requests_generated_per_tenant": len(requests[0]),
        "clients": spec["clients"], "warmup_requests": obs["warmup_requests"],
        "warmup_latency_ms": obs["warmup_latency_ms"],
        "timed_requests": len(obs["served"]), "rescored_requests": rescored,
        "exact_results_compared": compared,
        "timed_latency_ms": [s["latency_ms"] for s in obs["served"]],
        "setup_s": obs["setup_s"], **extra,
    }
    if args.trace:
        artifact["traced"] = [{k: v for k, v in r.items() if k != "body"}
                              for r in obs["traced"]]
        artifact["spans"] = obs["spans"]
    return metrics, len(records), failed, problems, artifact


def run_batch(args, plan, work, started):
    if not os.path.isdir(TABLES):
        fail(f"the batch tables are missing: {TABLES}")
    # one copy for the verification pass, one per set-up
    copies = 1 + (1 if args.trace else SETUP_REPS)
    dirs = []
    for r in range(copies):
        d = os.path.join(work, "tables", f"copy{r}")
        shutil.copytree(TABLES, d)
        dirs.append(d)
    verify_dir = os.path.join(work, "verify")
    plan.update({"mode": "batch", "table_dirs": dirs, "index_queries": BATCH_INDEX,
                 "queries": BATCH_QUERIES, "verify_dir": verify_dir})
    obs = run_harness(plan, work, started)
    t0 = time.time()
    failed, problems, digests = check_batch(verify_dir, BATCH_QUERIES)
    log(f"harness done at {t0 - started:.1f} s; oracle check took {time.time() - t0:.1f} s")
    # a query that raised in any pass fails as well
    failed = len(failed | {e.split(":")[0] for e in obs["errors"]})
    problems += obs["errors"]
    if args.trace:
        metrics, extra = batch_per_layer(obs)
    else:
        metrics, extra = batch_end_to_end(obs)
    timed_runs = sum(len(p) for p in obs["passes"] + obs.get("traced_passes", []))
    artifact = {
        "tables": os.path.relpath(TABLES, ROOT),
        "seed_used": False,
        "seed_note": "the tables and queries are fixed; the seed does not change the inputs",
        "index_queries": BATCH_INDEX, "queries": BATCH_QUERIES,
        "setup_s": obs["setup_s"], "verify_s": obs["verify_s"],
        "timed_passes": obs["passes"], "traced_passes": obs.get("traced_passes"),
        "oracle_check": digests, **extra,
    }
    if args.trace:
        artifact["traced"] = obs["traced"]
        artifact["index_builds"] = obs["index_builds"]
    # attempted: every query answer checked against its oracle, plus every
    # timed query run
    return metrics, len(BATCH_QUERIES) + timed_runs, failed, problems, artifact


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]

    classpath = build()
    started = time.time()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    plan = {"cores": CORES, "tmp": tmp, "seconds": args.seconds, "trace": args.trace,
            "classpath": classpath}
    try:
        if spec["mode"] == "batch":
            metrics, attempted, failed, problems, artifact = run_batch(args, plan, work, started)
        else:
            metrics, attempted, failed, problems, artifact = run_search(
                args, spec, plan, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems[:10]:
        log(p)
    not_applicable = []
    if args.trace:
        metrics, not_applicable = with_all_layers(metrics)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "attempted": attempted, "failed": failed,
        "problems": problems[:50], "not_applicable": not_applicable,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        **artifact,
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(artifact, f, indent=1)

    for k, (v, u) in metrics.items():
        print(f"{args.workload} {k} = {v:.6g} {u}" + (" (not reached)" if k in not_applicable else ""))
    if "batch_total_s" in artifact:
        print(f"{args.workload} batch_total_s = {artifact['batch_total_s']:.6g} s")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of record for graft: three workloads run against the
library's public API from generated, seeded inputs.

    python3 graftbench/run.py --workload <imdb_etl|corpus_dedup|bi_serve>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark's JVM runner with sbt (cached by a digest of their sources); every
run then generates its inputs from the seed, starts one JVM that runs
the workload on `local[nproc]` with `nproc` shuffle partitions, checks
every output, and prints the metrics. The last stdout line is one JSON
object: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. Lines before it are a host stamp and the per-workload
metrics in readable form. All files go under `.bench_build/graftbench/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import summarize  # noqa: E402

# Input sizes per workload: (generator, size). Sized so a run measures
# several passes (batch) or several hundred ops (serving) per window.
SIZES = {
    "imdb_etl": {"main": ("imdb", {"n_titles": 20000})},
    "corpus_dedup": {"main": ("corpus", {"n_docs": 2000, "shards": 4})},
    "bi_serve": {"imdb": ("imdb", {"n_titles": 5000}),
                 "emb": ("embeddings", {"n_vectors": 8000, "n_queries": 64, "dims": 32})},
}
CLIENT_MODEL = {"imdb_etl": "batch, one caller", "corpus_dedup": "batch, one caller",
                "bi_serve": "closed loop, min(2, nproc) clients"}
SERVE_OPS = ["top_year", "kpi_range", "genre_top", "ann_topk"]
# A fixed heap (initial = max) keeps the JVM's resident set from
# depending on when G1 chooses to grow the heap.
JVM_HEAP = "2g"
# Warm-up passes (batch) or rounds of the four ops (serving) in set-up,
# so the JIT has compiled the hot code before the window opens.
WARMUP = {"imdb_etl": 1, "corpus_dedup": 2, "bi_serve": 2}
RUN_LIMIT_S = 160  # JVM deadline after the build; checks must still fit in 180 s
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Per-layer metrics: name → (unit, workloads whose traced run measures
# it). Every traced run reports all of them; one its workload does not
# exercise reads 0 and is listed under "absent" with the reason.
ETL = ("imdb_etl", "bi_serve")
ALL = ("imdb_etl", "corpus_dedup", "bi_serve")
DEDUP = ("corpus_dedup",)
SERVE = ("bi_serve",)
PER_LAYER = {
    "sources.read_s": ("s", ALL), "sources.raw_scan_ratio": ("ratio", ETL),
    "etl.staging_s": ("s", ETL), "etl.star_s": ("s", ETL), "etl.marts_s": ("s", ETL),
    "sources.write_s": ("s", ALL), "sources.files_written": ("count", ALL),
    "sources.bytes_written": ("bytes", ALL),
    "functions.shingle_hash_s": ("s", DEDUP), "operators.dedup.exact_s": ("s", DEDUP),
    "operators.dedup.minhash_s": ("s", DEDUP), "operators.dedup.verify_s": ("s", DEDUP),
    "operators.dedup.clusters_s": ("s", DEDUP), "operators.dedup.clean_s": ("s", DEDUP),
    "operators.dedup.cc_rounds": ("count", DEDUP), "operators.dedup.candidates": ("count", DEDUP),
    "operators.dedup.verify_yield": ("ratio", DEDUP), "operators.quality.filter_s": ("s", DEDUP),
    **{f"serve.{op}.{q}_ms": ("ms", SERVE) for op in SERVE_OPS for q in ("p50", "p95")},
    "spark.plan_ms": ("ms", SERVE), "sources.files_scanned_per_op": ("count", SERVE),
    "sources.bytes_read_per_op": ("bytes", SERVE), "spark.jobs_per_op": ("count", SERVE),
    "spark.tasks_per_op": ("count", SERVE), "spark.shuffle_bytes_per_op": ("bytes", SERVE),
    "spark.slot_util": ("ratio", ALL), "spark.tasks": ("count", ALL), "spark.gc_s": ("s", ALL),
    "spark.shuffle_bytes": ("bytes", ALL), "spark.spill_bytes": ("bytes", ALL),
    "trace.overhead_ms": ("ms", ALL),
}
BATCH = {"imdb_etl", "corpus_dedup"}


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def digest(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, base):
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    stamp, cp_file = os.path.join(base, "build.stamp"), os.path.join(base, "classpath.txt")
    d = digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == d:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log = os.path.join(base, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], cwd=HERE, env=env,
                               stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    out_lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    with open(log, "a") as f:
        f.write(p.stdout)
    if p.returncode != 0 or not out_lines or "graftbench" not in out_lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(out_lines[-1])
    with open(stamp, "w") as f:
        f.write(d)
    return out_lines[-1]


def prepare_inputs(workload, seed, data_root):
    """Generate (or reuse) this seed's inputs; other seeds' inputs are
    removed so the work directory stays bounded."""
    key = f"seed-{seed}"
    os.makedirs(data_root, exist_ok=True)
    for old in os.listdir(data_root):
        if old != key:
            shutil.rmtree(os.path.join(data_root, old), ignore_errors=True)
    truths = {}
    for part, (kind, size) in SIZES[workload].items():
        truths[part] = gen.ensure(kind, os.path.join(data_root, key, part), seed, **size)
    return os.path.join(data_root, key), truths


def cpu_busy(sample_s=0.5):
    """Share of all CPUs busy over a short sample, from /proc/stat; None
    when it cannot be read (the host stamp then says "unknown")."""
    def read():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[3] + v[4]
    try:
        t0, i0 = read()
        time.sleep(sample_s)
        t1, i1 = read()
        return 1.0 - (i1 - i0) / max(t1 - t0, 1)
    except (OSError, ValueError, IndexError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        p = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def run_jvm(cp, args, work, data, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    result, spans = os.path.join(work, "result.json"), os.path.join(work, "spans.jsonl")
    for f in (result, spans):
        if os.path.exists(f):
            os.remove(f)
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.driver.host=127.0.0.1",
           "-Dspark.driver.bindAddress=127.0.0.1",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--warmup", str(WARMUP[args.workload]),
           "--data", data, "--out", os.path.join(work, "out"),
           "--result", result, "--spans", spans]
    if args.workload == "bi_serve":
        emb = SIZES["bi_serve"]["emb"][1]
        cmd += ["--dims", str(emb["dims"]), "--queries", str(emb["n_queries"])]
    env = dict(os.environ)
    if args.trace:
        env["GRAFT_CC_DEBUG"] = "1"
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT, env=env)

        def stop(signum, _frame):  # never leave the JVM behind
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload did not finish within {timeout:.0f} s; see {log}")
    if code != 0 or not os.path.exists(result):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"workload JVM exited {code}; last log lines:\n{tail}")
    with open(result) as f:
        res = json.load(f)
    if args.trace:
        res["result"]["spans"] = summarize.load(spans)
        res["result"]["spans_file"] = spans
    return res


def pct(values, q):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def tree_size(path):
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


def composition_check(traced):
    """The traced ETL pass calls the library layer by layer; it must build
    the same plans as `ImdbPipeline.run` (ImdbEtl.mismatches)."""
    bad = traced["composition_mismatch"]
    return 1, int(bool(bad)), [f"traced ETL composition differs from ImdbPipeline.run on {bad}"] if bad else []


def check_batch(workload, res, data, truths):
    """(attempted, failed, notes, extras) over every pass's outputs."""
    passes = list(res["passes"]) + list(res.get("traced", {}).get("passes", []))
    attempted = failed = 0
    notes, recalls = [], []
    if workload == "imdb_etl":
        con = checks.imdb_oracle(os.path.join(data, "main"))
        notes += checks.imdb_truth_ok(con, truths["main"])
        failed += len(notes)
        for p in passes:
            a, f, n = checks.check_imdb_pass(con, p["out"])
            attempted, failed, notes = attempted + a, failed + f, notes + n
        if "traced" in res:
            a, f, n = composition_check(res["traced"])
            attempted, failed, notes = attempted + a, failed + f, notes + n
    else:
        docs = checks.Corpus(os.path.join(data, "main"))
        for p in passes:
            a, f, n, r = checks.check_dedup_pass(docs, truths["main"], p["out"], p["exact"])
            attempted, failed, notes = attempted + a, failed + f, notes + n
            recalls.append(r)
    return attempted, failed, notes, {"recalls": recalls}


def check_serve(res, data):
    oracle = checks.ServeOracle(os.path.join(data, "imdb"), os.path.join(data, "emb"))
    traced = res.get("traced", {})
    ops = list(res["ops"]) + list(traced.get("ops", []))
    failed, notes, recalls = 0, [], []
    for o in ops:
        ok, recall = (False, None) if o["error"] else oracle.check(o["op"], o["params"], o["rows"])
        if not ok:
            failed += 1
            if len(notes) < 10:
                notes.append(f"{o['op']}{o['params']}: {o['error'] or 'wrong answer'}")
        if recall is not None:
            recalls.append(recall)
    attempted = len(ops)
    for out_dir in traced.get("etl_outputs", []):
        a, f, n = checks.check_imdb_pass(oracle.con, out_dir)
        attempted, failed, notes = attempted + a, failed + f, notes + n
    if traced:
        a, f, n = composition_check(traced)
        attempted, failed, notes = attempted + a, failed + f, notes + n
    return attempted, failed, notes, {"recalls": recalls}


def end_to_end(workload, res, truths, out):
    """Contract metrics (same names for every workload) and the
    workload's own metrics under their workload-specific names."""
    setup_s = out["setup_s"]
    e2e = {"setup_s": (setup_s, "s"), "peak_rss_mb": (out["peak_rss_mb"], "MB")}
    own = {"setup_s": (setup_s, "s"), "peak_rss_mb": (out["peak_rss_mb"], "MB")}
    if workload in BATCH:
        wall = statistics.median(p["wall_s"] for p in res["passes"])
        units = truths["main"]["raw_rows"] if workload == "imdb_etl" else truths["main"]["docs"]
        e2e["throughput_per_s"] = (units / wall, "1/s")
        e2e["latency_ms"] = (wall * 1000.0, "ms")
        if workload == "imdb_etl":
            _, written = tree_size(res["passes"][0]["out"])
            own["etl_rows_per_s"] = (units / wall, "rows/s")
            own["etl_out_bytes_per_in_byte"] = (written / truths["main"]["bytes"], "ratio")
        else:
            own["dedup_docs_per_s"] = (units / wall, "docs/s")
    else:
        lat = [o["latency_ms"] for o in res["ops"]]
        done = sum(1 for o in res["ops"] if not o["error"]
                   and o["start_s"] + o["latency_ms"] / 1000.0 <= res["deadline_s"])
        e2e["throughput_per_s"] = (done / res["deadline_s"], "1/s")
        # The mix median of four op kinds in equal shares sits on the edge
        # between two kinds' distributions; every kind's median counts here.
        e2e["latency_ms"] = (statistics.geometric_mean(
            statistics.median(o["latency_ms"] for o in res["ops"] if o["op"] == op) for op in SERVE_OPS), "ms")
        own.update({"serve_p50_ms": (pct(lat, 0.5), "ms"), "serve_p95_ms": (pct(lat, 0.95), "ms"),
                    "serve_ops_per_s": (done / res["deadline_s"], "ops/s"), "serve_ops": (len(lat), "count")})
    return e2e, own


def per_layer(workload, res, truths):
    """Every per-layer metric; the reason for each one this workload does
    not exercise (those read 0); raw bytes scanned per output table."""
    m = {k: 0.0 for k in PER_LAYER}
    absent = {k: f"not exercised by {workload}" for k, (_, ws) in PER_LAYER.items() if workload not in ws}
    spans = res["spans"]
    for name, v in summarize.layer_self(spans).items():
        if name + "_s" in m:
            m[name + "_s"] = v
    c, window, cores = res["counters"], res["window_s"], res["cores"]
    m["spark.slot_util"] = c.get("task_run_ms", 0) / 1000.0 / (window * cores)
    m["spark.tasks"] = c.get("tasks", 0)
    m["spark.gc_s"] = c.get("gc_ms", 0) / 1000.0
    m["spark.shuffle_bytes"] = c.get("shuffle_write_bytes", 0)
    m["spark.spill_bytes"] = c.get("spill_bytes", 0)
    traced = res["traced"]
    if workload in BATCH:
        walls = statistics.median(p["wall_s"] for p in res["passes"])
        m["trace.overhead_ms"] = (statistics.median(p["wall_s"] for p in traced["passes"]) - walls) * 1000
        m["sources.files_written"], m["sources.bytes_written"] = tree_size(res["passes"][0]["out"])
    if workload == "imdb_etl":
        raw = truths["main"]["bytes"] * len(res["passes"])
        m["sources.raw_scan_ratio"] = c.get("input_bytes", 0) / raw
    elif workload == "corpus_dedup":
        tp = traced["passes"]
        if not all(p["verify_reused_candidates"] for p in tp):
            absent["operators.dedup.verify_s"] = "ngramJaccard recomputed the MinHash candidates in its span"
        m["operators.dedup.cc_rounds"] = statistics.median(p["cc_rounds"] for p in tp)
        if m["operators.dedup.cc_rounds"] < 0:
            absent["operators.dedup.cc_rounds"] = "GRAFT_CC_DEBUG round lines not seen"
        m["operators.dedup.candidates"] = statistics.median(p["candidates"] for p in tp)
        m["operators.dedup.verify_yield"] = statistics.median(
            p["verified"] / max(p["candidates"], 1) for p in tp)
    elif workload == "bi_serve":
        ops = res["ops"]
        for op in SERVE_OPS:
            lat = [o["latency_ms"] for o in ops if o["op"] == op]
            if lat:
                m[f"serve.{op}.p50_ms"], m[f"serve.{op}.p95_ms"] = pct(lat, 0.5), pct(lat, 0.95)
            else:
                absent[f"serve.{op}.p50_ms"] = absent[f"serve.{op}.p95_ms"] = "no op of this kind ran"
        n = max(len(ops), 1)
        m["spark.plan_ms"] = statistics.median(summarize.durations(spans, "spark.plan") or [0.0]) * 1000
        scans = traced["scans"]
        m["sources.files_scanned_per_op"] = sum(s["files"] for s in scans) / max(len(scans), 1)
        m["sources.bytes_read_per_op"] = sum(s["bytes"] for s in scans) / max(len(scans), 1)
        m["spark.jobs_per_op"] = c.get("jobs", 0) / n
        m["spark.tasks_per_op"] = c.get("tasks", 0) / n
        m["spark.shuffle_bytes_per_op"] = c.get("shuffle_write_bytes", 0) / n
        m["trace.overhead_ms"] = (statistics.median(o["latency_ms"] for o in traced["ops"])
                                  - statistics.median(o["latency_ms"] for o in ops))
        # the DW export: listener counts on the unchanged path, files on disk
        raw = truths["imdb"]["bytes"]
        m["sources.raw_scan_ratio"] = traced["etl_counters"].get("input_bytes", 0) / raw
        m["sources.files_written"], m["sources.bytes_written"] = tree_size(traced["etl_outputs"][0])
    by_table = {}
    if workload in ETL:
        table_bytes = (res["input_bytes_by_table"] if workload == "imdb_etl"
                       else traced["etl_input_bytes_by_table"])
        by_table = {t: b / raw for t, b in table_bytes.items()}
    return m, absent, by_table


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")) or not os.path.isdir(os.path.join(root, "src", "main")):
        fail("run from the repository root: build.sbt and src/main are required")
    base = os.path.join(root, ".bench_build", "graftbench")
    os.makedirs(base, exist_ok=True)
    cp = build(root, base)
    t_start = time.time()

    work = os.path.join(base, args.workload)
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    data, truths = prepare_inputs(args.workload, args.seed, os.path.join(work, "data"))
    load_before, busy_before = loadavg(), cpu_busy()
    out = run_jvm(cp, args, work, data, RUN_LIMIT_S - (time.time() - t_start))
    load_after = loadavg()
    res = out["result"]

    if args.workload == "bi_serve":
        attempted, failed, notes, extra = check_serve(res, data)
    else:
        attempted, failed, notes, extra = check_batch(args.workload, res, data, truths)
    e2e, own = end_to_end(args.workload, res, truths, out)
    own["error_rate"] = (failed / max(attempted, 1), "ratio")
    if args.workload == "corpus_dedup":
        own["dedup_pair_recall"] = (statistics.median(extra["recalls"]), "ratio")
    if args.workload == "bi_serve":
        own["ann_recall_at_10"] = (statistics.mean(extra["recalls"]) if extra["recalls"] else 0.0, "ratio")

    nproc = out["jvm"]["cpus"]
    host = {"nproc": nproc, "loadavg_before": load_before, "loadavg_after": load_after,
            "cpu_busy_before": busy_before,
            "contended": "unknown" if busy_before is None else busy_before > 0.25,
            "noise_probe": "share of CPUs busy over 0.5 s before the run, contended above 0.25",
            "heap_max_mb": out["jvm"]["heap_max_mb"], "spark_version": out["jvm"]["spark_version"],
            "java_version": out["jvm"]["java_version"], "seed": args.seed,
            "inputs": {p: {k: v for k, v in t.items() if k in ("raw_rows", "docs", "vectors", "queries",
                                                              "dims", "bytes", "stamp")}
                       for p, t in truths.items()},
            "client_model": CLIENT_MODEL[args.workload], "commit": git_commit(root),
            "source_digest": open(os.path.join(base, "build.stamp")).read()[:16]}
    report = {"host": host, "workload": args.workload, "attempted": attempted, "failed": failed,
              "setup_s": out["setup_s"], "pass_walls_s": [p["wall_s"] for p in res.get("passes", [])],
              "notes": notes, "metrics": {k: {"value": v, "unit": u} for k, (v, u) in own.items()}}
    print("host " + json.dumps(host, sort_keys=True))
    for k, (v, u) in own.items():
        print(f"{args.workload} {k} = {v:.6g} {u}")
    for n in notes:
        print(f"{args.workload} check failed: {n}")

    if args.trace:
        layer, absent, by_table = per_layer(args.workload, res, truths)
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layer.items()}
        report.update({"per_layer": metrics, "absent": absent,
                       "overhead_unit": "pass" if args.workload in BATCH else "op",
                       "scan_ratio_by_table": by_table,
                       "spans_file": res["spans_file"]})
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(work, f"report-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    if args.trace:
        for k in sorted(metrics):
            print(f"{args.workload} {k} = {metrics[k]['value']:.6g} {metrics[k]['unit']}"
                  + (f"  (absent: {absent[k]})" if k in absent else ""))
        for t, r in sorted(report["scan_ratio_by_table"].items()):
            print(f"{args.workload} sources.raw_scan_ratio[{t}] = {r:.4g}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft from ../src
together with the benchmark's JVM runner (perfbench/build.sbt, sbt
offline); later runs reuse the build while the sources are unchanged.

Each run generates its inputs from --seed (gen.py), starts one JVM on
local[4] that sets up, warms up and then drives the workload for
--seconds (Main.scala), checks every output against DuckDB outside the
timed window (checks.py), and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the JVM also registers
the outside-in tracer and the metrics are the per-layer ones.
"""
import argparse
import collections
import hashlib
import json
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

WORKLOADS = ("semantic_layer", "corpus")
CPUS = 4
JVM_HEAP = "2g"
# semantic_layer warm-up: the schedule's first two deploys and three queries
WARM_OPS = 5
# semantic_layer query latencies are taken over the window's first queries:
# the rest of the warm-up's pass through the query mix and one full pass.
# Query kinds differ in cost, and the median lies between the cheap and the
# costly ones, so every run takes it over the same slots, however many
# queries a faster host fits in the window. Deploy latencies likewise over
# the window's first two deploys.
QUERY_SAMPLE = 2 * len(gen.QUERY_MIX) - (WARM_OPS - 2)
DEPLOY_SAMPLE = 2
RUN_LIMIT_S = 170  # the whole run, build excluded, ends within this
BUILD_LIMIT_S = 850
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# modules whose per-module counters the corpus workload reports: queries
# does the batch call's work (the stream key bypasses PipelineQueries),
# streaming the stream call's, ops both
CORPUS_MODULES = ("queries", "ops", "streaming")
MODULE_STATS = ("jobs", "stages", "tasks", "job_s", "task_s", "shuffle_bytes",
                "spill_bytes", "output_bytes")


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_files(root):
    bench = os.path.join(root, "perfbench")
    roots = [os.path.join(root, "src", "main"), os.path.join(bench, "src"),
             os.path.join(bench, "build.sbt"), os.path.join(bench, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(root):
    """Compile graft + the benchmark runner unless an up-to-date build
    exists; returns the JVM classpath."""
    bench = os.path.join(root, "perfbench")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(bench, "target", "bench.stamp")
    cp_file = os.path.join(bench, "target", "bench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("[perfbench] building graft + benchmark runner (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true "
                        "-Dsbt.server.autostart=false -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=bench, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        log(p.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def module_map(root):
    """graft source file name -> module (the package directory under
    src/main/scala/graft)."""
    base = os.path.join(root, "src", "main", "scala", "graft")
    lines = []
    for m in sorted(os.listdir(base)):
        d = os.path.join(base, m)
        if os.path.isdir(d):
            lines += [f"{f} {m}" for f in sorted(os.listdir(d)) if f.endswith(".scala")]
    return "\n".join(lines) + "\n"


def make_inputs(workload, seed, work):
    inp = os.path.join(work, "inputs")
    info = {}
    if workload == "semantic_layer":
        info["tables"] = gen.tables(seed, os.path.join(inp, "tables"))
        info["semantic"] = gen.semantic(seed, os.path.join(inp, "semantic"))["sizes"]
    else:
        info["corpus"] = gen.corpus(seed, os.path.join(inp, "corpus", "documents.parquet"))
    return info


def run_jvm(root, cp, props, work, deadline):
    """Start the workload JVM; returns (launch time, peak RSS MB, exit code)."""
    pfile = os.path.join(work, "run.properties")
    with open(pfile, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")
    # no -Xms, and the serial collector: it grows the heap by the share
    # left free after a collection, so peak RSS follows what the program
    # holds; G1 grows it by time spent collecting, which follows the host's
    # load, and its GC threads compete with the 4 task threads for 4 cores
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseSerialGC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", pfile])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        t_launch = time.time()
        proc = subprocess.Popen(cmd, cwd=root, stdout=logf, stderr=subprocess.STDOUT)
        code = None
        try:
            while code is None:
                pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    code = os.waitstatus_to_exitcode(status)
                elif time.time() > deadline:
                    log("[perfbench] run limit reached; stopping the workload JVM")
                    break
                else:
                    time.sleep(0.05)
        finally:
            if code is None:
                proc.kill()
                _, _, ru = os.wait4(proc.pid, 0)
                code = -9
    return t_launch, ru.ru_maxrss / 1024.0, code


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def p75(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


def end_to_end(workload, ops):
    """The user-facing metrics. Each name has one meaning per workload:

    metric      semantic_layer             corpus
    op_p50_s    query latency, median      pipeline_e2e_v2 call, accounting
                (first QUERY_SAMPLE)       collected (batch_docs_per_s = docs / it)
    aux_p50_s   deploy latency, median     stream_pipeline_e2e call, both
                (first DEPLOY_SAMPLE)      generations (stream_docs_per_s = docs / it)
    tail_s      query latency, p75         second landing -> refreshed
                (first QUERY_SAMPLE)       accounting collected (stream_refresh_s)
    """
    ok = [o for o in ops if o.get("ok")]
    if workload == "semantic_layer":
        queries = [o for o in ops if o["op"] == "query"][:QUERY_SAMPLE]
        main = [o["wall_s"] for o in queries if o.get("ok")]
        deploys = [o for o in ops if o["op"] == "deploy"][:DEPLOY_SAMPLE]
        aux = [o["wall_s"] for o in deploys if o.get("ok")]
        tail = p75(main)
    else:
        main = [o["wall_s"] for o in ok if o["op"] == "batch"]
        aux = [o["wall_s"] for o in ok if o["op"] == "stream"]
        tail = median([o["refresh_s"] for o in ok if o["op"] == "stream"])
    return {"op_p50_s": median(main), "aux_p50_s": median(aux), "tail_s": tail}


def per_layer(workload, ops, recs):
    ok = [o for o in ops if o.get("ok") and o.get("trace")]
    m = {}

    def mod(o, name):
        return o["trace"]["modules"].get(name, {})

    qs = [o for o in ok if o["op"] == "query"]
    ds = [o for o in ok if o["op"] == "deploy"]
    m["metrics.compile_s"] = median([o["compile_s"] for o in qs])
    m["metrics.plan_s"] = median([o["plan_s"] for o in qs])
    m["metrics.exec_s"] = median([o["exec_s"] for o in qs])
    for s in ("jobs", "stages", "tasks"):
        m[f"metrics.{s}"] = mean([mod(o, "metrics").get(s, 0) for o in qs])
    m["model.parse_s"] = median([o["parse_s"] for o in ds])
    m["model.tasks"] = mean([mod(o, "model").get("tasks", 0) for o in ds])
    m["model.to_defs_s"] = median([o["to_defs_s"] for o in ds])
    m["meta.ingest_s"] = median([o["ingest_s"] for o in ds])
    m["meta.job_s"] = mean([mod(o, "meta").get("job_s", 0) for o in ds])
    m["sources.job_s"] = mean([mod(o, "sources").get("job_s", 0) for o in ds])
    m["sources.output_bytes"] = mean([mod(o, "sources").get("output_bytes", 0) for o in ds])
    batches = [o for o in ok if o["op"] == "batch"]
    streams = [o for o in ok if o["op"] == "stream"]
    # per round: one batch call plus one stream call
    rounds = max(len(batches), len(streams))
    for name in CORPUS_MODULES:
        for s in MODULE_STATS:
            m[f"{name}.{s}"] = (sum(mod(o, name).get(s, 0) for o in batches + streams)
                                / rounds if rounds else 0.0)
    m["ops.artifact_builds"] = mean([o["trace"]["artifact_builds"] for o in batches])
    m["ops.artifact_hits"] = mean([o["trace"]["artifact_hits"] for o in batches])
    m["streaming.pass_s"] = median([x for o in streams for x in o["pass_s"]])
    m["streaming.batches"] = mean([o["batches"] for o in streams])
    m["streaming.input_rows"] = mean([o["input_rows"] for o in streams])
    m["streaming.fold_s"] = median([x for o in streams for x in o["fold_s"]])
    m["streaming.scratch_bytes"] = mean([o["scratch_bytes"] for o in streams])
    m["streaming.write_amp"] = (m["streaming.scratch_bytes"] / streams[0]["input_bytes"]
                                if streams else 0.0)
    tr = [o["trace"] for o in ok]
    wall = sum(t["wall_ms"] for t in tr) / 1e3
    task_s = sum(v.get("task_s", 0) for t in tr for v in t["modules"].values())
    m["spark.driver_idle_s"] = median([(t["wall_ms"] - t["busy_ms"]) / 1e3 for t in tr])
    m["spark.slot_util"] = task_s / (wall * CPUS) if wall else 0.0
    m["spark.max_concurrent_jobs"] = max([t["max_concurrent_jobs"] for t in tr] or [0])
    m["spark.checkpoint_blocks"] = mean([t["checkpoint_blocks"] for t in tr])
    m["spark.checkpoint_bytes"] = mean([t["checkpoint_bytes"] for t in tr])
    m["spark.failed_tasks"] = sum(t["failed_tasks"] for t in tr)
    m["spark.unattributed_jobs"] = sum(t["unattributed_jobs"] for t in tr)
    m["jvm.gc_s"] = sum(t["gc_s"] for t in tr)
    m["jvm.peak_heap_mb"] = next(r["peak_heap_mb"] for r in recs if r.get("event") == "end")
    # end-to-end figures of this traced run; minus the untraced run's,
    # they give the tracing overhead
    for k, v in end_to_end(workload, ops).items():
        m[f"traced.{k}"] = v
    return m


UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s", "aux_p50_s": "s",
         "tail_s": "s"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_mb"):
        return "MB"
    if name.startswith("traced."):
        return UNITS[name[len("traced."):]]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name in ("spark.slot_util", "streaming.write_amp"):
        return "ratio"
    return "count"


def main():
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("[perfbench] graft sources (src/main/scala/graft) not found; "
            "run from the root of a graft checkout")
        return 2
    cp = build(root)
    t_start = time.time()
    work = os.path.join(root, "perfbench", ".work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "corpus"):
        os.makedirs(os.path.join(work, d))
    try:
        info = make_inputs(a.workload, a.seed, work)
        with open(os.path.join(work, "modules.txt"), "w") as f:
            f.write(module_map(root))
        inp = os.path.join(work, "inputs")
        props = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                 "work": work, "out": os.path.join(work, "ops.jsonl"),
                 "modules": os.path.join(work, "modules.txt"),
                 "tables": os.path.join(inp, "tables"),
                 "semantic": os.path.join(inp, "semantic"),
                 "warm_ops": WARM_OPS,
                 "corpus": os.path.join(inp, "corpus", "documents.parquet")}
        t_launch, rss_mb, code = run_jvm(root, cp, props, work, t_start + RUN_LIMIT_S - 20)
        recs = []
        if os.path.exists(props["out"]):
            with open(props["out"]) as f:
                recs = [json.loads(ln) for ln in f if ln.strip()]
        ready = [i for i, r in enumerate(recs) if r.get("event") == "ready"]
        # ops before the ready mark are the warm-up, part of set-up
        ops = [r for r in recs[ready[0]:] if "op" in r] if ready else []
        if code != 0 or not ready or not ops:
            with open(os.path.join(work, "jvm.log")) as f:
                log(f.read()[-6000:])
            log(f"[perfbench] workload JVM failed (exit {code})")
            return 1
        # warm-up ops are checked and counted too; they set the revision
        # later queries use
        all_ops = [r for r in recs if "op" in r]
        report = checks.check(a.workload, all_ops, recs, inp)
        failed_ops = sum(1 for o in all_ops if not o.get("ok"))
        if a.trace:
            metrics = per_layer(a.workload, ops, recs)
        else:
            metrics = {"setup_s": recs[ready[0]]["ready_ms"] / 1e3 - t_launch,
                       "peak_rss_mb": rss_mb}
            metrics.update(end_to_end(a.workload, ops))
        timed = collections.Counter(o["op"] for o in ops)
        print(json.dumps({"inputs": info, "timed_ops": timed, "checks": report["summary"],
                          "known_defects": report["known_defects"],
                          "errors": report["errors"][:20] +
                          [o.get("error") for o in all_ops if not o.get("ok")][:20]}))
        print(json.dumps({
            "correct": not report["errors"] and failed_ops == 0,
            "attempted": len(all_ops),
            "failed": failed_ops + report["failed_ops"],
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

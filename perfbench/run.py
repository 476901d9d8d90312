#!/usr/bin/env python3
"""Benchmark of the graft RAG engine: ingest (curate + index) and serve
over a seeded corpus.

    python3 perfbench/run.py --workload serve --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 42     # both, named report

Run from the repository root. The first run compiles the engine
(src/main/scala) and the harness (perfbench/src) with the Scala
compiler bundled in the Spark distribution ($SPARK_HOME/jars, or the
one next to `spark-submit` on PATH) into .bench_build/. Each run then
starts one fresh JVM and SparkSession at local[nproc], generates its
inputs from --seed under a per-run directory in .bench_build/ that is
deleted afterwards, and prints a report followed, on the last line, by
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics (see perfbench/layers.json
for which end-to-end metric each layer should move).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest", "serve")
# corpus size: every workload runs over the same generated corpus
DOCS = 300
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 800
# the module opens Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MB = 1024.0 * 1024.0


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def build(jars):
    """Compile engine + harness once per source digest; returns the
    classes directory."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        raise BenchError("engine sources not found under src/main/scala")
    srcs = engine + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                                     recursive=True))
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = "%s.tmp%d" % (out, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(tmp, "compile.log")
    with open(log, "w") as lf:
        rc = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
             "@" + argfile],
            stdout=lf, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError("compilation failed")
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def run_jvm(classes, jars, workload, seed, seconds, trace, docs):
    """One fresh JVM for one workload; returns its result dict."""
    rundir = os.path.join(BUILD, "runs", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(rundir, ignore_errors=True)
    out = os.path.join(rundir, "result.json")
    load_before = read_loadavg()
    try:
        t0 = time.time()
        java(classes, jars, rundir, "perfbench.Main",
             ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--docs", str(docs), "--out", out,
              "--dir", rundir])
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    res["setup_s"] = res["first_timed_ms"] / 1000.0 - t0
    res["host"] = {
        "nproc": res["cores"], "mem_total_kb": read_meminfo("MemTotal"),
        "java": res["java_version"], "spark": res["spark_version"],
        "loadavg_before": load_before, "loadavg_after": read_loadavg(),
        "seed": seed, "docs": docs, "input_bytes": res["input_bytes"]}
    return res


def java(classes, jars, rundir, main, args):
    """Run `main` in a fresh JVM whose temp and Spark local dirs are
    under `rundir`; raises BenchError (with the log tail) on failure."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(rundir, d), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    cmd = (["java", "-XX:-UsePerfData", "-Xmx" + JVM_HEAP]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(rundir, "tmp"),
              "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(rundir, "local"))
    logpath = os.path.join(rundir, "jvm.log")
    with open(logpath, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=rundir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("%s timed out" % main)
    with open(logpath) as lf:
        text = lf.read()
    if rc != 0:
        sys.stderr.write(text[-4000:])
        raise BenchError("%s failed (exit %d)" % (main, rc))
    return text


def read_loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def read_meminfo(key):
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return None


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def end_to_end(res):
    ops = res["op_ms"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "op_p50_ms": (statistics.median(ops), "ms"),
        "recall": (res["quality"], "ratio"),
    }


def per_layer(res, layers):
    spans = res.get("spans", [])
    k = res["traced_ops"]
    cores = res["cores"]
    extras = res.get("extras", {})
    out = {}
    for layer in layers["spans"]:
        mine = [s for s in spans if s["name"] == layer["name"]]
        wall = sum(s["end_s"] - s["start_s"] for s in mine) / k
        cpu = sum(s["cpu_s"] for s in mine) / k
        vals = {
            "wall_s": wall, "cpu_s": cpu,
            "cpu_util": cpu / (wall * cores) if wall > 0 else 0.0,
            "jobs": sum(s["jobs"] for s in mine) / k,
            "tasks": sum(s["tasks"] for s in mine) / k,
            "shuffle_mb": sum(s["shuffle_bytes"] for s in mine) / MB / k,
            "input_mb": sum(s["input_bytes"] for s in mine) / MB / k,
            "spill_mb": sum(s["spill_bytes"] for s in mine) / MB / k,
        }
        for c in layers["counters"]:
            out["%s.%s" % (layer["name"], c["name"])] = (vals[c["name"]], c["unit"])
    def scan_share(name, bytes_key):
        mine = [s for s in spans if s["name"] == name]
        total = extras.get(bytes_key, 0)
        return sum(s["input_bytes"] for s in mine) / k / total if total else 0.0
    saved = [s for s in spans if s["name"] == "io.saved_index"]
    roots = [s for s in spans if s["parent"] == -1]
    mean_op_s = statistics.mean(res["baseline_ms"]) / 1000.0
    traced_op_s = sum(s["end_s"] - s["start_s"] for s in roots) / k if roots else 0.0
    derived = {
        "text.chunk.chunks_out": extras.get("text.chunk.chunks_out", 0.0),
        "io.saved_index.hit_share":
            sum(1 for s in saved if s["jobs"] == 0) / len(saved) if saved else 0.0,
        "io.saved_index.index_bytes_per_input_byte":
            res.get("index_bytes_per_input_byte", 0.0),
        "vector.ivf_serve.scan_share": scan_share("vector.ivf_serve", "index.ivf_bytes"),
        "text.bm25_serve.scan_share": scan_share("text.bm25_serve", "index.bm25_bytes"),
        "vector.context.result_kb": extras.get("vector.context.result_kb", 0.0),
        "dedup.minhash.pair_precision": extras.get("dedup.minhash.pair_precision", 0.0),
        "io.caches.persisted_after_run": res["persisted_after_run"],
        "jvm.peak_rss_mb": res["peak_rss_mb"],
        "trace.overhead_s": traced_op_s - mean_op_s,
        "trace.overhead_share": (traced_op_s - mean_op_s) / mean_op_s,
    }
    for m in layers["extras"]:
        out[m["name"]] = (derived[m["name"]], m["unit"])
    return out


# the user-facing names of what each workload's operation measures
NAMED = {
    "ingest": [("ingest_s", "op_p50_ms", 1e-3, "s"),
               ("dup_recall", "recall", 1, "ratio"),
               ("index_bytes_per_input_byte", "index_bytes_per_input_byte", 1, "ratio")],
    "serve": [("query_p50_ms", "op_p50_ms", 1, "ms"),
              ("query_p90_ms", "op_p90_ms", 1, "ms"),
              ("query_qps", "ops_per_s", 1, "1/s"),
              ("recall_at_5", "recall", 1, "ratio")],
}


def report(res, e2e):
    """Human-readable lines: host stamp and the workload's named metrics
    with units and sample counts."""
    w = res["workload"]
    n = len(res["op_ms"])
    lines = ["# host " + json.dumps(res["host"], sort_keys=True)]
    vals = dict((k, v) for k, (v, _) in e2e.items())
    vals["index_bytes_per_input_byte"] = res.get("index_bytes_per_input_byte", 0.0)
    vals["op_p90_ms"] = p90(res["op_ms"])
    vals["ops_per_s"] = n / res["loop_s"]
    rows = [(name, vals[key] * scale, unit, n) for name, key, scale, unit in NAMED[w]]
    rows += [("peak_rss_mb", res["peak_rss_mb"], "MB", 1),
             ("failed_share", res["failed"] / res["attempted"], "ratio", res["attempted"]),
             ("setup_s", vals["setup_s"], "s", 1)]
    for name, v, unit, cnt in rows:
        lines.append("# %-8s %-28s %14.4f %-6s n=%d" % (w, name, v, unit, cnt))
    lines.append("# %-8s op_ms %s" % (w, json.dumps([round(x, 1) for x in res["op_ms"]])))
    for e in res["errors"]:
        lines.append("# %-8s check failed: %s" % (w, e))
    return lines


def run_one(args, classes, jars, bench, layers):
    res = run_jvm(classes, jars, args.workload, args.seed, args.seconds,
                  args.trace, DOCS)
    e2e = end_to_end(res)
    for line in report(res, e2e):
        print(line)
    if args.trace:
        metrics = per_layer(res, layers)
        want = [m["name"] for m in bench["per_layer"]]
        tdir = os.path.join(BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, "%s-seed%d.json" % (args.workload, args.seed)), "w") as f:
            json.dump(res["spans"], f)
    else:
        metrics = e2e
        want = [m["name"] for m in bench["end_to_end"]]
    if sorted(metrics) != sorted(want):
        raise BenchError("metric set differs from BENCHMARK.json: %s"
                         % sorted(set(metrics) ^ set(want)))
    correct = res["failed"] == 0 and res["persisted_after_run"] == 0
    return {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)
        if args.seconds is None:
            args.seconds = bench["run_seconds"]
        jars = spark_jars()
        classes = build(jars)
        if args.workload != "all":
            print(json.dumps(run_one(args, classes, jars, bench, layers)))
            return 0
        ok = True
        for w in WORKLOADS:
            out = run_one(argparse.Namespace(**dict(vars(args), workload=w)),
                          classes, jars, bench, layers)
            print("# %s %s" % (w, json.dumps(out)))
            ok = ok and out["correct"]
        return 0 if ok else 1
    except (BenchError, OSError, ValueError, KeyError, subprocess.SubprocessError) as e:
        sys.stderr.write("perfbench: %s\n" % e)
        return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

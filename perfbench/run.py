#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dx_bulk --seed 1 --seconds 15 --trace 0

Builds the graft library and the harness from source on first use (sbt,
offline), generates the workload's inputs from the seed, runs the JVM
harness (one client thread, closed loop, local[N] with N = min(4, nproc)),
checks every timed operation against the DuckDB oracle, and prints as its
last line one JSON object with `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the end-to-end ones, with
`--trace 1` the per-layer ones. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
from oracle import Oracle  # noqa: E402

WORKLOADS = ("dx_bulk", "dx_trickle", "registry_mix")
SIZES = {
    "full": {"dx_bulk": {"docs_per_batch": 80000, "batches": 2},
             "dx_trickle": {"docs_per_batch": 500, "batches": 40},
             "registry_mix": {"sf": 0.001}},
    "toy": {"dx_bulk": {"docs_per_batch": 500, "batches": 2},
            "dx_trickle": {"docs_per_batch": 100, "batches": 3},
            "registry_mix": {"sf": 0.001}},
}
GEN_REPEATS = 3
JVM_TIMEOUT_S = 140
BUILD_TIMEOUT_S = 850
CPUS = min(4, os.cpu_count() or 1)
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.stdout.flush()
    os._exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, base)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    for f in sorted(files):
        p = os.path.join(ROOT, f)
        if os.path.isfile(p):
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library and harness when their sources changed; return the
    runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building library and harness (sbt)")
    out_path = os.path.join(BUILD, "build.log")
    with open(out_path, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {out_path}")
    with open(out_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or "scala-library" not in cp:
        fail(f"build failed (rc={rc}); see {out_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, size, in_dir):
    """Generate the inputs GEN_REPEATS times; every repeat must give the
    same bytes. Returns (median seconds, {path: rows}, total bytes)."""
    times, digests = [], set()
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        files, rows = gen.generate(workload, seed, size)
        h = hashlib.sha256()
        for rel in sorted(files):
            p = os.path.join(in_dir, rel)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:
                f.write(files[rel])
            h.update(rel.encode())
            h.update(files[rel])
        times.append(time.perf_counter() - t0)
        digests.add(h.hexdigest())
    if len(digests) != 1:
        fail("input generator is not deterministic for this seed")
    return statistics.median(times), rows, sum(len(b) for b in files.values())


# -------------------------------------------------------------------- jvm

def run_jvm(cp, workload, in_dir, out_dir, work, seconds, trace):
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed-size heap under the parallel collector: G1's adaptive heap
    # sizing made peak RSS and batch times vary run to run
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.codegen.cache.maxEntries=8192",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "perfbench.Main",
            workload, in_dir, out_dir, str(seconds), str(trace)]
    env = dict(os.environ, PERFBENCH_CPUS=str(CPUS))
    launch_ms = time.time() * 1000.0
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S + seconds)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; see {log_path}")
    if rc != 0:
        fail(f"harness failed (rc={rc}); see {log_path}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return launch_ms, json.load(f)


# ------------------------------------------------------------ correctness

def check(workload, res, in_dir, out_dir, wrong):
    """One verdict (None = correct) per timed operation."""
    oracle = Oracle(CPUS, wrong=wrong)
    ops = res["ops"]
    if workload != "registry_mix":
        sql = res["oracle_sql"]["dx_pipeline"]
        verdicts = []
        for o in ops:
            if o["error"]:
                verdicts.append(o["error"])
                continue
            if workload == "dx_bulk":
                got = oracle.dx_output(os.path.join(out_dir, "sink", f"batch_{o['batch_id']}"))
            else:
                got = oracle.dx_output(o["check_out"], o["batch_id"])
            verdicts.append(oracle.dx_batch(
                sql, os.path.join(o["input"], "documents.parquet"), o["batch_id"], got))
        return verdicts
    outputs = {("ref", n): (n, p) for n, p in res["ref_outputs"].items()}
    outputs.update({("op", o["seq"]): (o["name"], o["check_out"])
                    for o in ops if o["check_out"]})
    v = oracle.registry(os.path.join(in_dir, "tables"), res["oracle_sql"], outputs)
    verdicts = []
    for o in ops:
        name = o["name"]
        if o["error"]:
            verdicts.append(o["error"])
        elif v.get(("ref", name), "no checked result"):
            verdicts.append(f"checked result: {v.get(('ref', name), 'missing')}")
        elif o["checksum"] != res["ref_checksums"].get(name):
            verdicts.append(f"checksum {o['checksum']} vs checked {res['ref_checksums'].get(name)}")
        elif o["check_out"] and v.get(("op", o["seq"])):
            verdicts.append(v[("op", o["seq"])])
        else:
            verdicts.append(None)
    return verdicts


# ---------------------------------------------------------------- metrics

def end_to_end(workload, res, in_dir, rows, setup_s):
    ops = res["ops"]
    wall = (res["timed_end_ms"] - res["first_op_ms"]) / 1000.0
    if workload == "registry_mix":
        items = len(ops)
    else:
        batch_rows = {}
        for path, n in rows.items():
            batch = os.path.join(in_dir, path.split("/documents.parquet/")[0])
            batch_rows[batch] = batch_rows.get(batch, 0) + n
        items = sum(batch_rows[o["input"]] for o in ops)
    # each kind of operation (a registry query, a DX batch) weighs the same
    kinds = {}
    for o in ops:
        kinds.setdefault(o["name"], []).append(o["lat_s"])
    latency = math.exp(statistics.mean(
        math.log(statistics.median(v)) for v in kinds.values()))
    return {
        "setup_s": (setup_s, "s"),
        "throughput": (items / wall, "1/s"),
        "latency_s": (latency, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res, spans):
    ops = res["ops"]
    traced = [o for o in ops if o["traced"]]
    roots = {o["span_id"] for o in traced}
    n = max(1, len(traced))

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def calls(name):
        return [s for s in spans if s["name"] == name]

    in_ops = [s for s in spans if s["op"] in roots]
    tot = {k: sum(s[k] for s in in_ops) for k in (
        "jobs", "stages", "tasks", "failed_tasks", "cpu_s", "gc_s", "deser_s",
        "spill_bytes", "shuffle_write_bytes", "result_bytes", "output_bytes")}
    stage = {"clean": [], "prep": [], "predict": []}
    for d in calls("decompose"):
        kids = {s["name"]: s["dur_s"] for s in spans if s["parent"] == d["id"]}
        prev = kids["stage.read"]
        for k in ("clean", "prep", "predict"):
            stage[k].append(kids[f"stage.{k}"] - prev)
            prev = kids[f"stage.{k}"]
    # tracing cost: traced vs untraced runs of the same operation
    ratios = []
    for name in sorted({o["name"] for o in ops}):
        t = [o["lat_s"] for o in ops if o["name"] == name and o["traced"]]
        u = [o["lat_s"] for o in ops if o["name"] == name and not o["traced"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    overhead = math.exp(mean(math.log(r) for r in ratios)) - 1.0 if ratios else 0.0
    root_spans = [s for s in spans if s["id"] in roots]
    return {
        "op.build_s": (mean(s["dur_s"] for s in calls("build")), "s"),
        "op.build_jobs": (mean(s["jobs"] for s in calls("build")), "count"),
        "op.action_s": (mean(s["dur_s"] for s in calls("action")), "s"),
        "pipelines.clean_s": (mean(stage["clean"]), "s"),
        "pipelines.prep_s": (mean(stage["prep"]), "s"),
        "pipelines.predict_s": (mean(stage["predict"]), "s"),
        "ops.sink_s": (mean(s["dur_s"] for s in calls("sink")), "s"),
        "core.ledger_s": (mean(s["dur_s"] for s in calls("ledger")), "s"),
        "core.tables_s": (mean(s["dur_s"] for s in calls("tables")), "s"),
        "core.release_s": (mean(s["dur_s"] for s in calls("release")), "s"),
        "core.caches_released": (mean(o["released"] for o in traced), "count"),
        "spark.jobs": (tot["jobs"] / n, "count"),
        "spark.stages": (tot["stages"] / n, "count"),
        "spark.tasks": (tot["tasks"] / n, "count"),
        "spark.idle_s": (mean(s["dur_s"] - s["busy_s"] for s in root_spans), "s"),
        "spark.deser_s": (tot["deser_s"] / n, "s"),
        "spark.task_cpu_s": (tot["cpu_s"] / n, "s"),
        "spark.gc_s": (tot["gc_s"] / n, "s"),
        "spark.spill_bytes": (tot["spill_bytes"] / n, "bytes"),
        "spark.shuffle_write_bytes": (tot["shuffle_write_bytes"] / n, "bytes"),
        "spark.result_bytes": (tot["result_bytes"] / n, "bytes"),
        "spark.output_bytes": (tot["output_bytes"] / n, "bytes"),
        "spark.task_fail_ratio": (tot["failed_tasks"] / max(1, tot["tasks"]), "ratio"),
        "trace.overhead_frac": (overhead, "ratio"),
    }


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; 'toy' is for the benchmark's own tests")
    ap.add_argument("--wrong-oracle", action="store_true",
                    help="corrupt every expected result (tests the checker)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the graft library sources are not in this checkout", code=2)
    cp = build()

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(in_dir)
    gen_s, rows, nbytes = make_inputs(a.workload, a.seed, SIZES[a.size][a.workload], in_dir)
    launch_ms, res = run_jvm(cp, a.workload, in_dir, out_dir, work, a.seconds, a.trace)
    setup_s = gen_s + (res["first_op_ms"] - launch_ms) / 1000.0

    verdicts = check(a.workload, res, in_dir, out_dir, a.wrong_oracle)
    failed = sum(v is not None for v in verdicts)
    for o, v in zip(res["ops"], verdicts):
        if v is not None:
            log(f"FAIL {o['name']} seq={o['seq']}: {v}")
    if a.trace:
        with open(os.path.join(out_dir, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f]
        metrics = per_layer(res, spans)
        print(f"# trace: {len(spans)} spans in {os.path.join(out_dir, 'spans.jsonl')}; "
              f"overhead vs untraced operations {metrics['trace.overhead_frac'][0]:+.3f}")
    else:
        metrics = end_to_end(a.workload, res, in_dir, rows, setup_s)
    print(f"# perfbench {a.workload} seed={a.seed} cpus={res['cpus']} "
          f"ops={len(res['ops'])} failed={failed} inputs: {len(rows)} files, "
          f"{sum(rows.values())} rows, {nbytes} bytes")
    for k, (v, u) in metrics.items():
        print(f"#   {k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": failed == 0 and len(verdicts) > 0,
        "attempted": len(verdicts),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    # skip interpreter teardown: native thread pools can abort it
    os._exit(0)


if __name__ == "__main__":
    main()

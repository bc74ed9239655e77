#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the
harness and the engine with sbt, generates the input tables and looks
up the DuckDB oracle results (see README.md); later runs reuse them.

The last line of standard output is one JSON object:
{"correct": bool, "attempted": n, "failed": n, "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, measured with no
listener attached; with --trace 1 they are the per-layer ones, taken by
listeners and spans the harness registers. Lines before it give every
metric with its unit, the run context and the failed ops.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gendata  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("relational", "llm_pipeline")
# The tables are the same for every run; --seed varies the query order
# of `relational` and the sample of results a traced run hash-checks.
DATA_SEED = 42
# Results fully hash-checked per traced run, drawn by the seed.
CHECK_SAMPLE = 12
RUN_LIMIT_S = 165
JVM_LIMIT_S = 150
BUILD_LIMIT_S = 880
JVM_HEAP = "4g"

END_TO_END = [
    ("setup_s", "s"), ("total_s", "s"), ("query_p50_s", "s"),
    ("query_tail_s", "s")]
PER_LAYER = [
    ("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.wait_s", "s"),
    ("execution.task_run_s", "s"), ("execution.task_cpu_s", "s"),
    ("execution.gc_s", "s"), ("execution.shuffle_read_bytes", "bytes"),
    ("execution.shuffle_write_bytes", "bytes"),
    ("execution.spill_bytes", "bytes"),
    ("CacheRegistry.builds", "count"), ("CacheRegistry.reads", "count"),
    ("CacheRegistry.reads_per_build", "ratio"),
    ("CacheRegistry.resident_mb_peak", "MB"),
    ("CacheRegistry.release_s", "s"),
    ("Tables.bytes_read", "bytes"), ("Tables.records_read", "count"),
    ("Stores.ops", "count"), ("Stores.ops_s", "s"),
    ("Stores.jobs_per_op", "count"), ("Stores.bytes_read_per_op", "bytes"),
    ("Stores.files", "count"), ("Stores.bytes_on_disk", "bytes"),
    ("Stores.bytes_written_per_user_byte", "ratio"),
    ("span.op_self_s", "s"), ("span.construct_self_s", "s"),
    ("span.execute_self_s", "s"), ("span.job_s", "s"),
    ("jvm.peak_rss_mb", "MB"), ("trace.total_s", "s"),
    ("trace.overhead_s", "s"), ("check.results_hashed", "count")]
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def tree(base):
    out = []
    for dirpath, _, files in os.walk(base):
        out += [os.path.join(dirpath, f) for f in files]
    return sorted(out)


def read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def write(path, text):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def tool_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    # sbt keeps its boot socket under java.io.tmpdir: keep it in the
    # checkout when the path fits a unix socket name
    tmp = os.path.join(BUILD, "tmp")
    if len(tmp) < 60:
        env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("no SPARK_HOME and no spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return env


def build(env, deadline):
    """Compile engine + harness with sbt when their sources changed;
    returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ENGINE, "graft", "SparkEntry.scala")):
        raise BenchError(f"engine sources not found under {ENGINE}")
    srcs = tree(ENGINE) + tree(os.path.join(HERE, "src")) + [
        os.path.join(HERE, "build.sbt"),
        os.path.join(HERE, "project", "build.properties")]
    stamp = sha_files(srcs)
    cp_file = os.path.join(BUILD, "classpath.txt")
    if read(os.path.join(BUILD, "stamp")) == stamp and read(cp_file):
        return read(cp_file), stamp
    log("building engine and harness with sbt")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=max(1, deadline - time.time()))
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError(f"sbt build failed (exit {p.returncode})")
    write(cp_file, lines[-1].strip())
    write(os.path.join(BUILD, "stamp"), stamp)
    return lines[-1].strip(), stamp


def java_cmd(cp, main_args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return [java, *opens, f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness", *main_args]


def run_jvm(cmd, work, env, deadline):
    """Run the harness JVM in `work`; its logs go to work/jvm.log."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(env, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("harness JVM ran past the run's time limit")
    if rc != 0:
        tail = (read(os.path.join(work, "jvm.log")) or "")[-3000:]
        sys.stderr.write(tail)
        raise BenchError(f"harness JVM exited with {rc}")


def prepare(env, deadline):
    """Build, inputs, inventory and oracle results; all cached."""
    cp, stamp = build(env, deadline)
    data = os.path.join(BUILD, "data")
    fingerprint = sha_files([os.path.join(HERE, "gendata.py")]) + f"-{DATA_SEED}"
    if read(os.path.join(data, "fingerprint")) != fingerprint:
        log("generating input tables")
        shutil.rmtree(data, ignore_errors=True)
        gendata.generate(data, DATA_SEED)
        write(os.path.join(data, "fingerprint"), fingerprint)
    inv_path = os.path.join(BUILD, "inventory.json")
    if read(os.path.join(BUILD, "inventory.stamp")) != stamp:
        work = os.path.join(BUILD, "inventory-work")
        run_jvm(java_cmd(cp, ["inventory", "--out", inv_path], work), work,
                env, deadline)
        shutil.rmtree(work, ignore_errors=True)
        write(os.path.join(BUILD, "inventory.stamp"), stamp)
    inv = json.loads(read(inv_path))
    expected = oracle.expected(
        inv["oracle"], data, fingerprint,
        [os.path.join(HERE, "oracle_cache.tsv"), os.path.join(BUILD, "oracle.tsv")],
        os.path.join(BUILD, "oracle.tsv"), log)
    exp_path = os.path.join(BUILD, "expected.tsv")
    write(exp_path, "".join(f"{k}\t{v[0]}\n" for k, v in sorted(expected.items())))
    return cp, stamp, data, inv, expected, exp_path


def tail_percentile(n):
    """The highest whole percentile with at least 10 samples beyond it,
    and its nearest-rank index."""
    for p in range(99, 0, -1):
        rank = -(-p * n // 100)  # ceil
        if n - rank >= 10:
            return p, rank - 1
    return 50, (n - 1) // 2


def run_context(args, before_load):
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True, timeout=10)
        commit = commit.stdout.strip() if commit.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "commit": commit or "not a git checkout",
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_before": before_load, "loadavg_after": list(os.getloadavg()),
            "when": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


def median_untraced_total(workload):
    totals = []
    if os.path.isdir(RUNS):
        for f in os.listdir(RUNS):
            rec = json.loads(read(os.path.join(RUNS, f)) or "{}") if f.endswith(".json") else {}
            if rec.get("context", {}).get("workload") == workload and \
                    rec.get("context", {}).get("trace") == 0 and rec.get("correct"):
                totals.append(rec["metrics"]["total_s"]["value"])
    return statistics.median(totals) if totals else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    before_load = list(os.getloadavg())
    env = tool_env()
    cp, stamp, data, inv, expected, exp_path = prepare(env, started + BUILD_LIMIT_S)

    names = inv[args.workload]
    check = sorted(random.Random(args.seed).sample(names, CHECK_SAMPLE)) \
        if args.trace else []
    work = os.path.join(HERE, f".work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        main_args = ["run", "--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--data", data, "--work", work, "--expected", exp_path,
                     "--out", out]
        if check:
            main_args += ["--check", ",".join(check)]
        main_args += ["--launch-ms", str(int(time.time() * 1000))]
        # a run that had to build first gets its own run-sized limit
        run_jvm(java_cmd(cp, main_args, work), work, env,
                max(started + RUN_LIMIT_S, time.time() + JVM_LIMIT_S))
        res = json.loads(read(out))
        verdicts = oracle.check_results(os.path.join(work, "results"), check,
                                        expected) if check else {}
        spans = read(os.path.join(work, "spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    failures = [(o["name"], o["detail"]) for o in ops if not o["ok"]]
    failures += [(n, v) for n, v in verdicts.items() if v]
    ran = sorted(o["name"] for o in ops)
    coverage_ok = sorted(set(ran)) == sorted(names)
    if not coverage_ok:
        failures.append(("coverage", "the pass did not run every query of the workload"))
    attempted = len(ops) + len(verdicts)
    failed = len(failures)

    lat = sorted(o["s"] for o in ops)
    pct, idx = tail_percentile(len(lat))
    reps = res["setup_reps_s"]
    setup_s = (res["first_op_ms"] - res["launch_ms"]) / 1000.0 - sum(reps) \
        + statistics.median(reps)
    e2e = {"setup_s": setup_s, "total_s": res["total_s"],
           "query_p50_s": statistics.median(lat), "query_tail_s": lat[idx]}
    context = run_context(args, before_load)
    context.update(jdk=res["java_version"], spark=res["spark_version"],
                   passes=res["passes"], build=stamp,
                   setup_parts={"boot_s": (res["main_ms"] - res["launch_ms"]) / 1000.0,
                                "session_s": res["session_s"],
                                "warmup_s": res["warmup_s"],
                                "session_setup_s": reps},
                   input_seed_note="tables fixed (data seed %d); the seed varies %s" % (
                       DATA_SEED, "the query order of every pass" if args.workload ==
                       "relational" else "only the hash-checked sample (order is sorted)"))
    print(f"context: {json.dumps(context, sort_keys=True)}")
    for name, unit in END_TO_END:
        note = f"  (p{pct} of {len(lat)} queries)" if name == "query_tail_s" else ""
        print(f"{name:>16} {e2e[name]:12.4f} {unit}{note}")
    print(f"{'peak_rss_mb':>16} {res['peak_rss_mb']:12.4f} MB  (VmHWM; per-layer metric)")
    print(f"{'failed_ratio':>16} {failed / attempted:12.4f} ratio  ({failed} of {attempted} ops)")
    for name, why in failures[:20]:
        print(f"  FAILED {name}: {why}")

    if args.trace:
        layers = dict(res["layers"])
        base = median_untraced_total(args.workload)
        layers["trace.overhead_s"] = res["total_s"] - base if base is not None else 0.0
        layers["check.results_hashed"] = float(len(verdicts))
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        if base is None:
            print("  trace.overhead_s: no untraced run of this workload recorded yet")
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        for n, u in PER_LAYER:
            print(f"  {n:>36} {metrics[n]['value']:16.4f} {u}")
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}

    os.makedirs(RUNS, exist_ok=True)
    tag = f"{int(started)}-{args.workload}-s{args.seed}-t{args.trace}"
    record = {"context": context, "correct": failed == 0, "failures": failures,
              "metrics": metrics, "failed_ratio": failed / attempted,
              "tail_percentile": pct, "ops": ops}
    write(os.path.join(RUNS, tag + ".json"), json.dumps(record))
    if spans:
        write(os.path.join(RUNS, tag + ".spans"), spans)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        log(f"error: {e}")
        sys.exit(2)

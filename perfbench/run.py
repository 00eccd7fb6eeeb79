#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the benchmark (graft's
main sources plus perfbench/src) with sbt; later runs reuse the classes
while the sources are unchanged. A run then

  1. generates its inputs from --seed (three times: the digests must agree,
     and the median generation time is part of setup_s),
  2. starts one JVM with fixed settings (heap, four local threads, log
     level, scratch directories) and runs the workload as fixed work,
  3. checks the outputs (inside the JVM, and against DuckDB for the
     sweep's query results),
  4. prints one JSON line: correct, attempted, failed and the metrics --
     the end_to_end metrics of BENCHMARK.json untraced, or its per_layer
     metrics with --trace 1 (spans go to a sidecar file next to the result).

The work is fixed per workload (live ticks up to the close of one simulated
hour, one pass over the query list), never a time budget, so every run
measures the same population; --seconds is accepted for the runner's
interface and does not change it (BENCHMARK.json's run_seconds is the
work's approximate length on a 4-core host).

Everything a run writes lives under $CARGO_TARGET_DIR (default
.bench_build) and is removed at exit, apart from the build and, for traced
runs, the trace sidecar.
"""
import argparse
import datetime
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
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 150
with open(os.path.join(HERE, "workloads.json")) as _fh:
    _SPEC = json.load(_fh)
WORKLOADS, RUNTIME = _SPEC["workloads"], _SPEC["runtime"]
BUILD_TIMEOUT_S = 800


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """SPARK_HOME, else the Spark installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build_root():
    root = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(REPO, root))


def sources():
    files = sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"), recursive=True))
    if not files:
        fail("graft's sources (src/main/scala) are missing; run from a full checkout")
    files += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return files + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]


def build():
    """Compile with sbt unless the classes match the current sources."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    sbt_home = os.path.join(build_root(), "sbt")
    os.makedirs(sbt_home, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), f"-Dsbt.global.base={sbt_home}/global",
                                "-Dsbt.server.autostart=false"]).strip()
    log = os.path.join(sbt_home, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
    if p.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def generate(workload, seed, out_dir):
    import gen
    spec = WORKLOADS[workload]
    if workload == "query_sweep":
        return gen.fixtures(out_dir, seed, spec["sf"])
    first = datetime.datetime.strptime(spec["first_day"], "%Y-%m-%d")
    return gen.cascade_inputs(out_dir, seed, first, spec["days"],
                              spec["base_rows_per_day"], spec["copies"])


def jvm_args(workload, seed):
    if workload != "query_sweep":
        return []
    import random
    names = [q for g in WORKLOADS[workload]["groups"].values() for q in g]
    random.Random(seed).shuffle(names)
    groups = {q: g for g, qs in WORKLOADS[workload]["groups"].items() for q in qs}
    return ["--queries", ",".join(f"{groups[q]}:{q}" for q in names)]


def run_jvm(classes, workload, args, work, inputs, trace, seed):
    out = os.path.join(work, "result.json")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark_jars = os.path.join(spark_home(), "jars", "*")
    cmd = (["java"] + RUNTIME["jvm_flags"] + ADD_OPENS + [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-cp", f"{classes}{os.pathsep}{spark_jars}", "graftbench.Main",
        "--workload", workload, "--inputs", inputs, "--work", work, "--out", out,
        "--trace", str(trace), "--seed", str(seed), "--threads", str(RUNTIME["local_threads"]),
        "--log-level", RUNTIME["log_level"]] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload} timed out after {JVM_TIMEOUT_S} s", 4)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"{workload} JVM exited with {code}", 4)
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; choose from {', '.join(WORKLOADS)}")
    classes = build()

    work = os.path.join(build_root(), f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        import gen
        gen_s, digests = [], []
        for i in range(3):
            d = os.path.join(work, f"inputs{i}")
            t0 = time.perf_counter()
            generate(a.workload, a.seed, d)
            gen_s.append(time.perf_counter() - t0)
            digests.append(gen.digest(d))
        inputs = os.path.join(work, "inputs0")
        for i in (1, 2):
            shutil.rmtree(os.path.join(work, f"inputs{i}"))
        print(f"perfbench: inputs digest {digests[0]}", file=sys.stderr)

        res = run_jvm(classes, a.workload, jvm_args(a.workload, a.seed),
                      work, inputs, a.trace, a.seed)
        attempted, failed = res["attempted"] + 1, res["failed"]
        failures = list(res["failures"])
        if len(set(digests)) != 1:
            failed += 1
            failures.append("generated inputs differ between three generations")
        if a.workload == "query_sweep":
            import oracle
            a2, f2, msgs = oracle.check_sweep(work, inputs)
        else:
            a2, f2, msgs = 0, 0, []
        attempted, failed, failures = attempted + a2, failed + f2, failures + msgs
        for m in failures:
            print(f"perfbench: FAILED {m}", file=sys.stderr)

        e2e = dict(res["e2e"], setup_s=statistics.median(gen_s) + res["setup_jvm_s"])
        if a.trace:
            layer = res["layer"]
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in
                       ((m["name"], m["unit"]) for m in spec["per_layer"])}
            sidecar = os.path.join(work, "result.json.trace.json")
            keep = os.path.join(build_root(), f"trace-{a.workload}-{a.seed}.json")
            shutil.copyfile(sidecar, keep)
            print(f"perfbench: spans in {keep}", file=sys.stderr)
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        # workload detail (not result metrics): one JSON line before the result
        print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                          "inputs_digest": digests[0], "e2e": e2e, "detail": res["detail"],
                          "layer": res["layer"]}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

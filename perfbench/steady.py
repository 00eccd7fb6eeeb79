#!/usr/bin/env python3
"""Steadiness report: run workloads repeatedly and compare spreads to bounds.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--traced]

Runs perfbench/run.py once per (workload, seed), one after another, and
prints for every end-to-end metric and workload the median, the first and
third quartiles (statistics.quantiles(n=4)), the spread (IQR / median) and
the metric's bound from BENCHMARK.json, plus the run's wall time. A spread
above a third of its bound is flagged; the bound rationale is in
perfbench/workloads.json. With --traced every seed is also run with
--trace 1, and the tracing overhead (traced minus untraced median) is
printed per metric. Raw results are written as JSON lines next to the build
($CARGO_TARGET_DIR or .bench_build, file steady-<time>.jsonl).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def one(workload, seed, seconds, trace):
    t0 = time.perf_counter()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=REPO, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall, "error": p.returncode}
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "result": result, "e2e": detail["e2e"], "detail": detail["detail"]}


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    root = os.path.abspath(os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    os.makedirs(root, exist_ok=True)
    log = os.path.join(root, f"steady-{int(time.time())}.jsonl")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = []
    with open(log, "w") as fh:
        for w in a.workloads.split(","):
            for s in seeds(a.seeds):
                for trace in ((0, 1) if a.traced else (0,)):
                    r = one(w, s, spec["run_seconds"], trace)
                    runs.append(r)
                    fh.write(json.dumps(r) + "\n")
                    fh.flush()
                    status = "error" if "error" in r else (
                        "ok" if r["result"]["correct"] else f"failed={r['result']['failed']}")
                    print(f"# {w} seed={s} trace={trace} wall={r['wall_s']:.1f}s {status}",
                          file=sys.stderr)
    print(f"{'workload':<18}{'metric':<20}{'median':>10}{'q1':>10}{'q3':>10}{'spread':>8}"
          f"{'bound':>7}  flag")
    for w in a.workloads.split(","):
        ok = [r for r in runs if r["workload"] == w and "error" not in r and r["trace"] == 0]
        traced = [r for r in runs if r["workload"] == w and "error" not in r and r["trace"] == 1]
        if not ok:
            print(f"{w:<18}no successful runs")
            continue
        for m in list(bounds) + ["wall_s"]:
            vals = [r["wall_s"] if m == "wall_s" else r["e2e"][m] for r in ok]
            med, q1, q3, spread = summary(vals)
            b = bounds.get(m)
            flag = "" if b is None or m == "setup_s" or spread <= b / 3 else "SPREAD"
            line = (f"{w:<18}{m:<20}{med:>10.4f}{q1:>10.4f}{q3:>10.4f}{spread:>8.3f}"
                    f"{b if b is not None else '':>7}  {flag}")
            if traced and m in bounds:
                tmed = statistics.median(r["e2e"][m] for r in traced)
                line += f"  trace overhead {tmed - med:+.4f} ({(tmed - med) / med:+.1%})"
            print(line)
        bad = [r for r in ok if not r["result"]["correct"]]
        print(f"{w:<18}runs={len(ok)} incorrect={len(bad)} "
              f"attempted={ok[0]['result']['attempted']}")
    with open(os.path.join(HERE, "workloads.json")) as fh:
        why = json.load(fh)["end_to_end"]
    print(f"bounds: {why['bounds']} setup_s: {why['setup_s']}")
    print(f"raw results: {log}")


if __name__ == "__main__":
    main()

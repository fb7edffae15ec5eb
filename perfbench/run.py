#!/usr/bin/env python3
"""graft benchmark: seeded workloads driven through the library's public
entry points from one JVM (Spark local[N], N <= cores, Spark defaults
otherwise, one client thread in a closed loop).

    python3 perfbench/run.py --workload taxi_compress --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the library and
the benchmark (build.py); inputs and references are generated from the
seed (gen.py) and cached under .bench_build/. Every op result is checked
against a reference that uses no graft code (check.py). The last line of
standard output is one JSON object: correct, attempted, failed, metrics —
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. See perfbench/README.md for the workloads and metrics.
"""

import argparse
import copy
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
BUDGET_S = 170  # a run must end within 180 s
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
WORKLOADS = list(gen.SIZES)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_jvm(classes, workload, data_dir, seconds, trace, deadline):
    """Runs the benchmark JVM; returns (run record, ERROR log line count)."""
    work = os.path.join(build.BUILD, "work")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # Spark and native libraries leave files here
    os.makedirs(tmp)
    out = os.path.join(work, f"{workload}-trace{trace}.json")
    log = os.path.join(work, f"{workload}-trace{trace}.log")
    if os.path.exists(out):
        os.remove(out)
    cmd = [build.java(), "-Xmx2g", "-XX:-UsePerfData", *ADD_OPENS,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Djava.io.tmpdir=" + tmp,
           "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
           "graft.perfbench.Main", "--workload", workload, "--data", data_dir,
           "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores()),
           "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {workload} JVM exceeded the run budget (log: {log})")
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        raise SystemExit(f"perfbench: {workload} JVM failed with code {p.returncode}")
    with open(log) as lf:
        errors = sum(1 for line in lf if " ERROR " in line)
    with open(out) as f:
        return json.load(f), errors


def table_bytes(data_dir):
    return os.path.getsize(os.path.join(data_dir, "data.parquet"))


def evaluate(run, checker, trace, data_dir, errors, units):
    """(result line dict, human-readable lines)."""
    samples = run["samples"]
    failed = sum(1 for s in samples if s["error"] or not checker.ok(run["kind"], s["result"]))
    e2e = check.end_to_end(run, [s for s in samples if not s["traced"]])
    lines = [f"workload {run['workload']}: {len(samples)} ops ({failed} failed), "
             f"window {run['window_s']:.1f} s, local[{run['cores']}], "
             f"host steal {run['steal_pct']:.1f} %, JVM GC {run['gc_ms']} ms"
             + ("  [disturbed: host steal above 5 %]" if run["steal_pct"] > 5 else "")]
    notes = {"setup_s": "JVM start to the first timed op", "op_p50_s": "median of {} ops",
             "rows_per_s": "over {} ops"}
    for name, (v, n) in e2e.items():
        lines.append(f"  {name:<14} {v:12.4f} {units['end_to_end'][name]:<4} ({notes[name].format(n)})")
    lines.append("  op seconds     " + " ".join(f"{s['seconds']:.3f}" for s in samples))
    lines.append(f"  failed_ops     {failed / max(len(samples), 1):12.4f} share ({failed} of {len(samples)})")
    if trace:
        layer = check.per_layer(run, checker, table_bytes(data_dir), errors)
        layer["bench.failed_ops"] = failed / max(len(samples), 1)
        metrics = {k: layer[k] for k in units["per_layer"]}
        lines += [f"  {k:<36} {v:14.6g} {units['per_layer'][k]}" for k, v in metrics.items()]
        kind = "per_layer"
    else:
        metrics = {k: e2e[k][0] for k in units["end_to_end"]}
        kind = "end_to_end"
    result = {"correct": failed == 0, "attempted": len(samples), "failed": failed,
              "metrics": {k: {"value": v, "unit": units[kind][k]} for k, v in metrics.items()}}
    return result, lines


def run_once(workload, seed, seconds, trace, size, deadline, classes):
    data_dir = gen.ensure(build.BUILD, workload, seed, size)
    with open(os.path.join(data_dir, "ref.json")) as f:
        ref = json.load(f)
    run, errors = run_jvm(classes, workload, data_dir, seconds, trace, deadline)
    return run, errors, data_dir, ref


def selftest(units):
    """Tiny inputs, a couple of seconds each: metric names, units and the
    output line, and that a perturbed reference coefficient, a dropped
    planted cluster member or a single missed member is counted as a
    failed op."""
    classes = build.build()
    problems = []
    for w in WORKLOADS:
        run, errors, data_dir, ref = run_once(w, 1, 5, 1, "tiny", time.time() + BUDGET_S, classes)
        for trace in (0, 1):
            res, lines = evaluate(run, check.Checker(data_dir, copy.deepcopy(ref)),
                                  trace, data_dir, errors, units)
            print("\n".join(lines))
            want = units["per_layer" if trace else "end_to_end"]
            if set(res["metrics"]) != set(want):
                problems.append(f"{w}: metric names differ from BENCHMARK.json")
            if not all(isinstance(v["value"], (int, float)) and v["unit"] == want[k]
                       for k, v in res["metrics"].items()):
                problems.append(f"{w}: bad metric value or unit")
            json.loads(json.dumps(res))
            if res["failed"] or not res["attempted"]:
                problems.append(f"{w}: {res['failed']} of {res['attempted']} ops failed at seed")
        for perturb in (("cluster", "member") if w == "corpus_dedup" else ("coef",)):
            checker = check.Checker(data_dir, copy.deepcopy(ref), perturb)
            bad, _ = evaluate(run, checker, 0, data_dir, errors, units)
            if bad["failed"] < bad["attempted"]:
                problems.append(f"{w}: perturbed reference ({perturb}) not caught "
                                f"({bad['failed']} of {bad['attempted']} ops failed)")
            else:
                print(f"  perturbed reference ({perturb}): all {bad['attempted']} ops failed, as expected")
    for p in problems:
        print("SELFTEST FAIL:", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    s = spec()
    units = {k: {m["name"]: m["unit"] for m in s[k]} for k in ("end_to_end", "per_layer")}
    if a.selftest:
        return selftest(units)
    if not a.workload:
        ap.error("--workload is required")
    t = time.time()
    classes = build.build()
    deadline = start + BUDGET_S + (time.time() - t)  # a first-run compile gets its own time
    run, errors, data_dir, ref = run_once(a.workload, a.seed, a.seconds, a.trace, "full",
                                          deadline, classes)
    result, lines = evaluate(run, check.Checker(data_dir, ref), a.trace, data_dir, errors, units)
    print(f"perfbench seed {a.seed} trace {a.trace}")
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

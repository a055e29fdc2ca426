#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload featurecounts --seed 1 --seconds 2 --trace 0

Run from the repository root. The script builds graft and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the harness JVM (perfbench/src/graft/perfbench),
checks every query type's result against an independent DuckDB
reference (perfbench/oracle.py) and the plan regime it must take, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full artifact (run context, per-query latencies, layer
breakdown, check details) is written under .bench_build/perfbench/results/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("featurecounts", "wide_join", "depth")
GEN_REPS = 3           # input generation repeats; setup_s takes the median
JVM_TIMEOUT_S = 170
HEAP = "2g"
LOCAL_N = 2
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) CPU ticks from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return None


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.startswith("plans.regime."):
        return "ratio"
    for suffix, unit in (("rows_per_s", "1/s"), ("_mb_s", "MB/s"), ("_ns", "ns"), ("_ms", "ms"),
                         ("_mb", "MB"), ("_bytes", "bytes"), ("_s", "s"), (".s", "s"),
                         ("frac", "ratio"), ("_util", "ratio"), ("_skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def jvm_cmd(classpath, cds, workload, data, work, out, seconds, trace, cores, seed, inputs):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    if cds:
        cmd.append(cds)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
                  "--workload", workload, "--data", data, "--work", work, "--out", out,
                  "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
                  "--budget", str(gen.BROADCAST_BUDGET.get(workload) or "default"), "--seed", str(seed),
                  "--inputs", ",".join(f"{k}={v}" for k, v in inputs.items())]


def train_cds(base, classpath, cores):
    """Class-data sharing: after a build, one untimed JVM run (featurecounts
    set-up and warm executions, seed 0, no timed phase) records the classes
    it loads into an archive. Measured runs map the archive instead of
    loading those classes again. Returns the JVM flag, or "" without one."""
    cds = os.path.join(base, "classes.jsa")
    key_file = cds + ".key"
    key = "".join(open(p + ".stamp").read() for p in classpath[:2])
    if os.path.exists(cds) and os.path.exists(key_file) and open(key_file).read() == key:
        return f"-XX:SharedArchiveFile={cds}"
    for p in (cds, key_file):
        if os.path.exists(p):
            os.remove(p)
    data, work = os.path.join(base, "train-data"), os.path.join(base, "train-work")
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    info = gen.generate("featurecounts", 0, data)
    cmd = jvm_cmd(classpath, f"-XX:ArchiveClassesAtExit={cds}", "featurecounts", data, work,
                  os.path.join(work, "result.json"), 0, 0, cores, 0, info["inputs"])
    ok = run_jvm(cmd, os.path.join(base, "train.log"), work) == 0 and os.path.exists(cds)
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    if not ok:
        return ""
    with open(key_file, "w") as fh:
        fh.write(key)
    return f"-XX:SharedArchiveFile={cds}"


def run_jvm(cmd, log, cwd):
    """Runs the harness JVM; its exit code, or None when it timed out."""
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=cwd)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def steal_frac(before, after):
    """Share of CPU time the hypervisor took from this machine in between."""
    if before is None or after is None or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def layer_metrics(res):
    """Per-layer metrics plus tracing overhead (traced minus untraced)."""
    out = dict(res["layers"])
    for k in ("query_gmean_s", "rows_per_s"):
        out[f"trace.overhead_{k}"] = res["traced_metrics"][k] - res["metrics"][k]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.time()
    root = os.getcwd()
    base = os.path.join(root, ".bench_build", "perfbench")
    load_before = loadavg()
    ticks_before = cpu_ticks()
    try:
        classpath = build.build(root, base)
    except (RuntimeError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    data = os.path.join(base, "data", run_id)
    work = os.path.join(base, "work", run_id)
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    gen_times = []
    for _ in range(GEN_REPS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        info = gen.generate(args.workload, args.seed, data)
        gen_times.append(time.perf_counter() - t0)

    # Two task slots: on a 4-core host the other cores keep the driver, JIT
    # and GC threads off the task threads, which made run-to-run medians
    # steadier than local[4] did.
    cores = max(1, min(LOCAL_N, os.cpu_count() or 1))
    cds = train_cds(base, classpath, cores)
    out_file = os.path.join(work, "result.json")
    cmd = jvm_cmd(classpath, cds, args.workload, data, work, out_file, args.seconds, args.trace,
                  cores, args.seed, info["inputs"])
    jvm_log = os.path.join(work, "jvm.log")
    t_jvm = time.perf_counter()
    rc = run_jvm(cmd, jvm_log, work)
    jvm_s = time.perf_counter() - t_jvm
    if rc is None:
        print(f"perfbench: harness timed out after {JVM_TIMEOUT_S}s, see {jvm_log}", file=sys.stderr)
        return 3
    if rc != 0 or not os.path.exists(out_file):
        print(f"perfbench: harness failed (exit {rc}), see {jvm_log}", file=sys.stderr)
        return 3
    with open(out_file) as fh:
        res = json.load(fh)

    t_check = time.perf_counter()
    checks = oracle.check(args.workload, data, os.path.join(work, "results"))
    check_s = time.perf_counter() - t_check
    regime_ok = {q: res["regimes"].get(q) == r for q, r in res["expected_regimes"].items()}
    bad_types = {q for q in res["query_types"]
                 if not checks.get(q, (False, "no check"))[0] or not regime_ok[q]}
    lat = res["latencies"]
    attempted = res["attempted"]
    # A query type whose result or regime is wrong fails every execution.
    failed = res["failed"] + sum(res["executions"][q] for q in bad_types)
    correct = failed == 0 and not bad_types and not res["failures"]

    gen_median = statistics.median(gen_times)
    e2e = dict(res["metrics"])
    # Set-up covers input generation (median of GEN_REPS) plus JVM start to
    # the first timed query: session start, fixture writes, warm executions.
    e2e["setup_s"] = gen_median + res["setup_s"]
    e2e["failed_frac"] = failed / max(1, attempted)
    units = {"setup_s": "s", "rows_per_s": "1/s", "query_gmean_s": "s", "query_tail_s": "s",
             "peak_live_heap_mb": "MB"}
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer_metrics(res).items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "git_commit": git_commit(root), "local_n": cores, "heap": HEAP,
        "heap_max_mb": res["heap_max_mb"], "jdk": res["jdk"], "spark": res["spark"],
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "cpu_steal_frac": steal_frac(ticks_before, cpu_ticks()),
        "inputs": info, "gen_s": gen_times, "jvm_setup_s": res["setup_s"],
        "setup_phases_s": res["setup_phases_s"], "setup_notes": res["setup_notes"],
        "end_to_end": e2e,
        "sample_counts": {"latencies": sum(len(v) for v in lat.values()),
                          "per_query_type": {q: len(v) for q, v in lat.items()},
                          "query_tail_pct": e2e["query_tail_pct"], "gen_reps": GEN_REPS},
        "latencies": lat, "regimes": res["regimes"], "expected_regimes": res["expected_regimes"],
        "plans": res["plans"],
        "checks": {q: {"ok": ok, "detail": d} for q, (ok, d) in checks.items()},
        "failures": res["failures"], "traced_end_to_end": res["traced_metrics"],
        "layers": res["layers"], "wall_s": time.time() - t_start,
        "phases_s": {"gen": sum(gen_times), "jvm": jvm_s, "check": check_s},
    }
    rdir = os.path.join(base, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, run_id + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(rdir, run_id + ".spans.jsonl"))
    if correct:
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    for q in sorted(bad_types):
        print(f"perfbench: {q}: check={checks.get(q)} regime={res['regimes'].get(q)} "
              f"expected={res['expected_regimes'][q]}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The repository benchmark: one command that builds the engine, derives the
seeded inputs, runs one workload in one JVM, checks the results and prints
the metrics.

    python3 perfbench/run.py --workload commerce_sql --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones; the traced run also writes its spans to
.bench_build/traces/. See perfbench/README.md.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import spans as spanlib  # noqa: E402

JVM_TIMEOUT_S = 165
MB = 1024 * 1024
# Timed passes that feed the per-execution metrics: the cold pass and three
# warm ones. Pinned, so the sample count behind query_p50_s and
# query_tail_s does not change with the engine's speed.
PASSES = 4
# Set-up repetitions; setup_s reports their median.
SETUP_REPS = 3
# Heap cap: small enough that the heap fills, which keeps rss_peak_mb steady.
HEAP = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def load_check():
    """tools/check.py, the dtype-strict DuckDB compare, imported unchanged."""
    path = os.path.join(ROOT, "tools", "check.py")
    if not os.path.exists(path):
        raise SystemExit("run: tools/check.py is missing")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def tail_rank(n):
    """0-based rank, in ascending order, of the highest percentile that has
    at least 10 samples beyond it, and that percentile."""
    if n < 11:
        raise ValueError(f"a tail needs at least 11 samples, got {n}")
    k = n - 11
    return k, 100.0 * (k + 1) / n


def failure_counts(result, gate_failures, setup_ops):
    """(attempted, failed, named failures) over set-up operations, timed
    executions and gate checks. A failed execution is never timed."""
    named = [f"setup {e}" for e in result["setup_errors"]]
    named += [f"pass {e['pass']} {e['query']}: {e['error']}"
              for e in result["execs"] if not e["ok"]]
    named += [f"gate {g}" for g in gate_failures]
    attempted = setup_ops + len(result["execs"]) + len(result["gate"])
    return attempted, len(named), named


def query_times(result, passes):
    """Construction-plus-write seconds of the successful executions in the
    first `passes` passes."""
    return [e["construct_s"] + e["execute_s"] for e in result["execs"]
            if e["ok"] and e["pass"] < passes]


def end_to_end(result, launch_s, rss_mb, attempted, failed):
    walls = [p["wall_s"] for p in result["passes"]]
    times = sorted(query_times(result, PASSES))
    k, _ = tail_rank(len(times))
    session_s = result["session_ready_ms"] / 1e3 - launch_s
    return {
        "setup_s": (session_s + statistics.median(r["s"] for r in result["setup_reps"]), "s"),
        "cold_pass_s": (walls[0], "s"),
        "warm_pass_s": (statistics.median(walls[1:]), "s"),
        "query_p50_s": (statistics.median(times), "s"),
        "query_tail_s": (times[k], "s"),
        "ok_share": ((attempted - failed) / attempted, "ratio"),
        "rss_peak_mb": (rss_mb, "MB"),
        "layout_mb": (result["layout_bytes"] / MB, "MB"),
    }


def per_layer(result, spark_errors):
    """Per-layer metrics: medians over the traced warm passes, plus a few
    run-level numbers."""
    passes = result["passes"]
    traced = [p for p in passes if p["traced"] and p["pass"] > 0]
    bare = [p for p in passes if not p["traced"] and p["pass"] > 0]
    spans = result["spans"]
    rows = []
    for p in traced:
        n, lay = p["pass"], p["layers"]
        ex = [e for e in result["execs"] if e["pass"] == n]
        ok = [e for e in ex if e["ok"]]
        mine = spanlib.in_pass(spans, p)
        construct = sum(e["construct_s"] for e in ok)
        selfs = spanlib.self_times(mine, p["start_ms"], p["end_ms"])
        row = {
            "construct_s": construct,
            "construct_jobs": spanlib.jobs_inside(mine, "construct"),
            "construct_share": construct / p["wall_s"],
            "ckpt_rdds": sum(e["ckpt_rdds"] for e in ex),
            "release_s": sum(e["release_s"] for e in ex),
            "input_mb": lay.get("input_b", 0) / MB,
            "input_rows": lay.get("input_rows", 0),
            "layout_builds": sum(e["builds"] for e in ex),
            "layout_build_s": sum(e["build_s"] for e in ex),
            "catalyst_analysis_s": lay.get("catalyst_analysis_ms", 0) / 1e3,
            "catalyst_optimize_s": lay.get("catalyst_optimization_ms", 0) / 1e3,
            "catalyst_plan_s": lay.get("catalyst_planning_ms", 0) / 1e3,
            "janino_s": lay.get("janino_ms", 0) / 1e3,
            "janino_classes": lay.get("janino_classes", 0),
            "jobs": lay.get("jobs", 0),
            "stages": lay.get("stages", 0),
            "tasks": lay.get("tasks", 0),
            "task_cpu_s": lay.get("task_cpu_ns", 0) / 1e9,
            "shuffle_write_mb": lay.get("shuffle_write_b", 0) / MB,
            "shuffle_read_mb": lay.get("shuffle_read_b", 0) / MB,
            "spill_mb": lay.get("spill_b", 0) / MB,
            "driver_idle_s": p["wall_s"] - spanlib.covered_s(mine, "job", p["start_ms"], p["end_ms"]),
            "microbatches": lay.get("microbatches", 0),
            "microbatch_planning_s": lay.get("microbatch_planning_ms", 0) / 1e3,
            "microbatch_addbatch_s": lay.get("microbatch_addbatch_ms", 0) / 1e3,
            "downgrades": sum(1 for e in ex if e["downgrade"]),
            "gc_s": lay.get("gc_ms", 0) / 1e3,
            "hotspot_compile_s": lay.get("hotspot_compile_ms", 0) / 1e3,
        }
        for kind in spanlib.KINDS:
            row[f"self_{spanlib.metric_name(kind)}_s"] = selfs.get(kind, 0.0) / 1e3
        rows.append(row)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    cold = passes[0]["layers"]
    cold_ex = [e for e in result["execs"] if e["pass"] == 0]
    out["cold_janino_s"] = cold.get("janino_ms", 0) / 1e3
    out["cold_janino_classes"] = cold.get("janino_classes", 0)
    out["cold_layout_builds"] = sum(e["builds"] for e in cold_ex)
    out["cold_layout_build_s"] = sum(e["build_s"] for e in cold_ex)
    out["setup_layout_builds"] = statistics.median(r["builds"] for r in result["setup_reps"])
    out["trace_overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                               - statistics.median(p["wall_s"] for p in bare))
    out["spark_errors"] = spark_errors
    return {k: (v, unit_of(k)) for k, v in out.items()}


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share"):
        return "ratio"
    return "count"


def gate_failures(result, snap_dir, gate_dir, check):
    """Names every gate failure: a throw, an oracle mismatch, or, for a query
    with no oracle or one that fired a downgrade, an empty result or one
    that differs between two executions."""
    fails = [f"{g['query']}: {g['error']}" for g in result["gate"] if not g["ok"]]
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check.main(snap_dir, os.path.join(gate_dir, "first"))
    fails += [line[5:] for line in out.getvalue().splitlines() if line.startswith("FAIL ")]
    for g in result["gate"]:
        if g["ok"] and not g["oracle"]:
            a = check.load_spark(os.path.join(gate_dir, "first"), g["query"])
            b = check.load_spark(os.path.join(gate_dir, "second"), g["query"])
            if a is None or len(a) == 0:
                fails.append(f"{g['query']}: empty result")
            elif not same_rows(a, b):
                fails.append(f"{g['query']}: result differs between executions")
    return fails


def same_rows(a, b):
    if b is None or list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    cols = list(a.columns)
    a, b = a.astype(str).sort_values(cols), b.astype(str).sort_values(cols)
    return a.reset_index(drop=True).equals(b.reset_index(drop=True))


def count_errors(stderr_path):
    """Spark ERROR log events: one per line that starts a log event."""
    with open(stderr_path, errors="replace") as fh:
        return sum(1 for line in fh if line[12:19] == " ERROR ")


def steal_s():
    """CPU seconds the host has taken from this machine's CPUs so far (the
    steal column of /proc/stat); a run's share of it explains noisy runs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_jvm(props_path, run_dir):
    # -UsePerfData: no hsperfdata file in the system /tmp
    java = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", os.path.join(ROOT, build.classpath()), "graft.perfbench.Harness", props_path]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    with open(f"{run_dir}/jvm.out", "w") as out, open(f"{run_dir}/jvm.err", "w") as err:
        proc = subprocess.Popen(java, cwd=run_dir, stdout=out, stderr=err, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc is None:
        raise SystemExit(f"run: harness JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        with open(f"{run_dir}/jvm.err", errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"run: harness JVM exited with code {rc}")


def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(ROOT)
    conf = load_workloads()
    if a.workload not in conf["workloads"]:
        raise SystemExit(f"run: unknown workload {a.workload}")
    wl = conf["workloads"][a.workload]
    build.build()
    check = load_check()

    run_dir = os.path.abspath(os.path.join(build.BUILD_DIR, f"run-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(f"{run_dir}/tmp")
    t_start = time.time()
    try:
        snap = f"{run_dir}/input"
        datagen.write(datagen.derive(datagen.base_tables(), a.seed), snap)
        props = {
            "trace": a.trace, "cores": len(os.sched_getaffinity(0)),
            "queries": ",".join(wl["queries"]), "warmup": ",".join(wl["warmup"]),
            "prebuild": ",".join(wl["prebuild"]), "setup.reps": SETUP_REPS,
            "snapshot": snap, "seconds": a.seconds, "passes.min": PASSES,
            "root": run_dir, "gate.dir": f"{run_dir}/gate", "out": f"{run_dir}/result.json",
        }
        with open(f"{run_dir}/harness.properties", "w") as fh:
            fh.writelines(f"{k}={v}\n" for k, v in props.items())
        launch_s, steal0 = time.time(), steal_s()
        run_jvm(f"{run_dir}/harness.properties", run_dir)
        rss_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024
        with open(f"{run_dir}/result.json") as fh:
            result = json.load(fh)
        jvm_end = time.time()
        print(f"inputs {launch_s - t_start:.1f} s, jvm {jvm_end - launch_s:.1f} s "
              f"(session {result['session_ready_ms'] / 1e3 - launch_s:.1f} s, setup "
              f"{[round(r['s'], 2) for r in result['setup_reps']]}, passes "
              f"{[round(p['wall_s'], 2) for p in result['passes']]}, gate "
              f"{result['gate_s']:.1f} s), host steal {steal_s() - steal0:.1f} CPU s",
              file=sys.stderr)

        fails = gate_failures(result, snap, f"{run_dir}/gate", check)
        setup_ops = SETUP_REPS * (len(wl["warmup"]) + len(wl["prebuild"]))
        attempted, failed, named = failure_counts(result, fails, setup_ops)
        for f in named:
            print(f"FAILED {f}", file=sys.stderr)
        print(f"check {time.time() - jvm_end:.1f} s", file=sys.stderr)
        if a.trace:
            metrics = per_layer(result, count_errors(f"{run_dir}/jvm.err"))
            trace_dir = os.path.join(build.BUILD_DIR, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
            spanlib.write_trace(trace_path, result)
            print(f"trace written to {trace_path}", file=sys.stderr)
        else:
            metrics = end_to_end(result, launch_s, rss_mb, attempted, failed)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

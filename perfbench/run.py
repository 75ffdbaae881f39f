"""Benchmark entry point.

    python3 perfbench/run.py --workload mv_dashboard --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Builds graft and the benchmark (see build.py), runs one workload in a
fresh JVM on `local[nproc]`, and prints the settings, a human-readable
summary and, as the last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics; `--trace 1` reports the per-layer metrics, with every other
timed op traced so that the tracing overhead is measured in the same
run. The exit code is non-zero when an output check fails or the
run could not complete.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["mv_dashboard", "mv_scan", "ingest_mixed"]
# end-to-end metrics of the result line, on every workload (name -> unit)
END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
              "queries_per_s": "1/s"}
# printed in the summary only: zero by design (fail_ratio) or too noisy to gate
EXTRA = {"fail_ratio": "ratio", "peak_rss_mb": "MB", "live_heap_mb": "MB"}
# printed in the summary of ingest_mixed only
INGEST_EXTRA = {"batch_p50_s": "s", "ingest_docs_per_s": "docs/s"}
# per-layer metrics of the traced run (name -> unit)
PER_LAYER = {"spec.register_ms": "ms", "mat.build_ms": "ms", "api.build_ms": "ms",
             "sqlext.build_ms": "ms", "catalyst.analysis_ms": "ms",
             "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms", "exec.ms": "ms",
             "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
             "exec.task_run_ms": "ms", "exec.scheduler_wait_ms": "ms", "exec.input_bytes": "bytes",
             "exec.input_rows": "count", "exec.rows_read_per_result_row": "rows/row",
             "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
             "mat.route_hit_ratio": "ratio", "jvm.gc_ms": "ms", "trace.latency_p50_ms": "ms",
             "trace.overhead_pct": "%"}
# reported on ingest_mixed only, with one `ops.<source file>.jobs` and
# `.job_ms` pair per graft file named in a drain job's call site
INGEST_LAYER = {"streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
                "streaming.jobs_per_batch": "count", "streaming.tasks_per_batch": "count"}
# sizes per workload; --smoke shrinks them
FULL = {"mv_dashboard": {"sf": "0.1", "replicas": "1", "batches": "1", "setup_reps": "1"},
        "mv_scan": {"sf": "0.1", "replicas": "4", "batches": "1", "setup_reps": "3"},
        "ingest_mixed": {"sf": "0.1", "replicas": "1", "batches": "8", "setup_reps": "1"}}
SMOKE = {"sf": "0.001", "replicas": "4", "batches": "3", "setup_reps": "1"}
DEADLINE_S = 170
# ingest_mixed drains microbatches of ~30 s each on 4 cores
DEADLINE_INGEST_S = 900
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
XMX = "3g"
# C1-only JIT: a run lasts about a minute, and under the default tiered
# JIT the C2 compiler threads would take a large, run-to-run-variable
# share of the cores for code paths a warm long-lived Spark application
# has long since compiled. Both sides of any comparison run with the same flags.
# Without tiering the code cache would shrink to 48 MB, fill up and
# switch the compiler off mid-run, so it keeps the tiered default size.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]


class RunError(Exception):
    pass


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, workload, seed, seconds, trace, sizes, deadline):
    """One JVM run; returns (settings, result) parsed from its output."""
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = (["java", f"-Xmx{XMX}"] + JIT + ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
            "-Dderby.system.home=" + os.path.join(work, "derby")]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work-dir", work,
              "--sf", sizes["sf"], "--replicas", sizes["replicas"], "--batches", sizes["batches"],
              "--setup-reps", sizes.get("setup_reps", "3")])
    log_path = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{trace}.log")
    settings = result = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise RunError(f"{workload} did not finish before the deadline (log: {log_path})")
        for line in out.splitlines():
            if line.startswith("GRAFTBENCH settings "):
                settings = json.loads(line[len("GRAFTBENCH settings "):])
            elif line.startswith("GRAFTBENCH result "):
                result = json.loads(line[len("GRAFTBENCH result "):])
        if proc.returncode != 0 or result is None:
            with open(log_path) as fh:
                tail = fh.read()[-3000:]
            raise RunError(f"{workload} exited {proc.returncode} without a result:\n{tail}")
    finally:
        if trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(ROOT, ".bench_work", f"spans-{workload}-{seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    return settings, result


def summary(settings, result, digest):
    print("settings: " + json.dumps(dict(settings, git_commit=git_commit(), source_digest=digest,
                                          jvm_xmx=XMX), sort_keys=True))
    e2e = result["end_to_end"]
    for name, m in e2e.items():
        extra = f"  (p{result['tail_pct']:g}, n={result['ops']})" if name == "latency_tail_ms" else ""
        print(f"  {name:<20} {m['value']:>14.4f} {m['unit']}{extra}")
    print(f"  checks_run={result['checks_run']} failed={result['failed']} "
          f"attempted={result['attempted']} window_s={result['window_s']:.2f} "
          f"setup_reps_s={[round(x, 3) for x in result['setup_reps_s']]}")
    print("  span totals (s): " + ", ".join(f"{k}={v:.2f}" for k, v in result["span_totals_s"].items()))
    if result["unrouted_shapes"]:
        print("  route-eligible shapes that read outside the rollups: " + ", ".join(result["unrouted_shapes"]))
    print("  shape p50 (ms): " + ", ".join(f"{k}={v:.0f}" for k, v in result["shape_p50_ms"].items()))
    for f in result["check_failures"] + result["op_errors"]:
        print(f"  FAIL {f}")


def deadline_for(workload):
    return time.time() + (DEADLINE_INGEST_S if workload == "ingest_mixed" else DEADLINE_S)


def measure(args, sizes):
    deadline = deadline_for(args.workload)
    classes, digest = build.build()
    settings, result = run_jvm(classes, args.workload, args.seed, args.seconds, args.trace,
                               sizes, deadline)
    summary(settings, result, digest)
    failed = result["failed"]
    if args.trace:
        layers = result["per_layer"]
        print(f"  traced run: exec_negative_ops={result['exec_negative_ops']}")
        failed += result["exec_negative_ops"]
        for name in sorted(layers):
            print(f"  {name:<40} {layers[name]:>16.4f}")
        names = dict(PER_LAYER)
        if args.workload == "ingest_mixed":
            names.update(INGEST_LAYER)
            names.update({n: "ms" if n.endswith("_ms") else "count"
                          for n in layers if n.startswith("ops.")})
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in names.items()}
    else:
        metrics = {n: result["end_to_end"][n] for n in END_TO_END}
    line = {"correct": failed == 0, "attempted": result["attempted"], "failed": failed,
            "metrics": metrics}
    print(json.dumps(line))
    return 0 if failed == 0 else 1


def smoke():
    """The benchmark's own test: every workload at sf0.001, briefly."""
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            print(f"== smoke {w} trace={trace}", flush=True)
            deadline = deadline_for(w)
            classes, digest = build.build()
            settings, res = run_jvm(classes, w, 7, 2, trace, SMOKE, deadline)
            summary(settings, res, digest)
            e2e = res["end_to_end"]
            want = dict(END_TO_END, **EXTRA, **(INGEST_EXTRA if w == "ingest_mixed" else {}))
            for name, unit in want.items():
                if name not in e2e or e2e[name]["unit"] != unit or e2e[name]["value"] is None:
                    problems.append(f"{w}: end-to-end metric {name} [{unit}] missing")
            if res["checks_run"] < 1:
                problems.append(f"{w}: no output check ran")
            if res["failed"]:
                problems.append(f"{w}: {res['failed']} failures: {res['check_failures'] + res['op_errors']}")
            if trace:
                names = dict(PER_LAYER, **(INGEST_LAYER if w == "ingest_mixed" else {}))
                missing = [n for n in names if n not in res["per_layer"]]
                if missing:
                    problems.append(f"{w}: per-layer metrics missing: {missing}")
                if res["exec_negative_ops"]:
                    problems.append(f"{w}: {res['exec_negative_ops']} ops with negative exec time")
    for p in problems:
        print("SMOKE FAIL " + p)
    print("smoke " + ("failed" if problems else "ok"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run the benchmark's own test")
    args = ap.parse_args()
    try:
        if args.smoke:
            return smoke()
        if not args.workload:
            ap.error("--workload is required")
        return measure(args, FULL[args.workload])
    except (build.BuildError, RunError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())

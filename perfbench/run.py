"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {mapreduce,dedup,lake} --seed N \\
        --seconds S --trace {0,1}

Builds the program and the harness from source if needed (`build.py`),
generates the seed's inputs (`gen.py`), runs the harness in one JVM
(`local[4]`, one client thread), checks every output against the
generator's truth (`checks.py`) and prints a readable report, then as
its last line one JSON object: `correct`, `attempted`, `failed` and
`metrics` -- the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. Everything it writes stays under the
checkout (`.bench_build/`, `.bench_run/`); the run directory is removed
at the end.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
# slack past --seconds for the JVM's start, cold iteration, the iteration
# in flight when time is up, and shutdown
JVM_SLACK_S = 140

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm_command(classpath, run_dir, args):
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m"] + opens + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join(classpath), "perfbench.Harness"] + args)


def run_harness(classpath, run_dir, args, timeout_s):
    """Run the harness; return (seconds from spawn to SETUP_DONE, exit code).
    The JVM is killed if it outlives `timeout_s`."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    log = open(os.path.join(run_dir, "harness.log"), "w")
    t0 = time.monotonic()
    proc = subprocess.Popen(jvm_command(classpath, run_dir, args), cwd=run_dir, env=env,
                            stdout=subprocess.PIPE, stderr=log, text=True)
    timer = threading.Timer(timeout_s, proc.kill)
    timer.start()
    setup = None
    try:
        for line in proc.stdout:
            if line.strip() == "SETUP_DONE" and setup is None:
                setup = time.monotonic() - t0
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    return setup, code


def fail(run_dir, message):
    print(f"benchmark failed: {message}", file=sys.stderr)
    log = os.path.join(run_dir, "harness.log")
    if os.path.exists(log):
        with open(log) as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
    return 1


def report(workload, truth, result, e2e, attempted, failures, out):
    """The readable part of the output: input sizes, every end-to-end
    metric with its unit and sample count, and the check result."""
    sizes = ", ".join(f"{k} {truth[k]}" for k in ("tokens", "distinct_words", "docs",
                                                   "near_copies", "cycles") if k in truth)
    if "exact_copies" in truth:
        sizes += f", exact_copies {len(truth['exact_copies'])}"
    mb = truth["bytes"] / 1e6
    print(f"workload {workload}, seed {truth['seed']}: inputs {mb:.3f} MB, {sizes}", file=out)
    units = {n: u for n, u, _ in metrics.END_TO_END}
    for name, (value, n) in e2e.items():
        print(f"  {name} = {value:.6g} {units[name]} (n={n})", file=out)
    if workload == "lake":
        for name, (value, n) in metrics.lake_statements(truth, result).items():
            unit = "s" if name.endswith(("p50", "p95")) else "ratio"
            print(f"  {name} = {value:.6g} {unit} (n={n})", file=out)
    walls = sorted(it["wall_s"] for it in result["iterations"] if not it.get("error"))
    if walls:
        print(f"  iteration_s: min {walls[0]:.4f}, median {metrics.median(walls):.4f}, "
              f"max {walls[-1]:.4f} (n={len(walls)})", file=out)
    print(f"  failed_ratio = {len(failures) / attempted:.6g} "
          f"({len(failures)} of {attempted} operations)", file=out)
    for f in failures[:10]:
        print(f"  check failed: {f}", file=out)
    print(f"  output check: {'pass' if not failures else 'FAIL'}", file=out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    try:
        truth = gen.generate(a.workload, a.seed, in_dir)
        setup_s, code = run_harness(
            classpath, run_dir,
            [a.workload, in_dir, out_dir, str(a.seconds), str(a.trace)],
            a.seconds + JVM_SLACK_S)
        if code != 0 or setup_s is None:
            return fail(run_dir, f"harness exited with code {code}")
        with open(os.path.join(out_dir, "results.json")) as f:
            result = json.load(f)
        with open(os.path.join(out_dir, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        if not result["iterations"]:
            return fail(run_dir, "no timed iteration completed")
        attempted, failures = checks.check(a.workload, out_dir, truth, result)
        e2e = metrics.end_to_end(truth, result, setup_s)
        report(a.workload, truth, result, e2e, attempted, failures, sys.stdout)
        if a.trace:
            units = {n: u for n, u, *_ in metrics.LAYERS}
            values = metrics.layers(result, spans)
            for name, v in values.items():
                print(f"  layer {name} = {v:.6g} {units[name]}")
            for name, (v, n) in metrics.module_calls(result, spans).items():
                print(f"  module {name}_s = {v:.6g} s per call (n={n})")
            out = {n: {"value": values[n], "unit": units[n]} for n, *_ in metrics.LAYERS}
        else:
            out = {n: {"value": e2e[n][0], "unit": u} for n, u, _ in metrics.END_TO_END}
        failed = min(len(failures), attempted)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

"""Runs the repository benchmark. See perfbench/README.md.

One run (the last stdout line is the result JSON):
    python3 perfbench/run.py --workload scan --seed 1 --seconds 20 --trace 0

Every workload once, untraced, then one traced run, with the tracing overhead:
    python3 perfbench/run.py --all [--seed 1] [--seconds 20]

One workload K times on seeds seed..seed+K-1, with each end-to-end
metric's median, quartiles and range next to its bound:
    python3 perfbench/run.py --repeat 10 --workload scan [--seed 1]
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["scan", "lookup", "ingest", "pipeline"]
RUN_LIMIT_S = 170
HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload, seed, seconds, trace, echo=True):
    """One benchmark run in a fresh JVM; returns the result dict."""
    classes = build.build()
    out_dir = os.path.join(build.build_dir(), "out")
    work = os.path.join(build.build_dir(), "work", f"{workload}-{os.getpid()}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--out", out_dir]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    launch_ms = int(time.time() * 1000)
    proc = subprocess.Popen(cmd + ["--launch-ms", str(launch_ms)], stdout=subprocess.PIPE,
                            text=True, env=env, cwd=work, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {workload} run exceeded {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith("{"):
        sys.stdout.write(stdout)
        raise SystemExit(f"perfbench: {workload} run failed (exit {proc.returncode})")
    if echo:
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
    return json.loads(lines[-1])


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def repeat(workload, k, seed, seconds):
    bounds = {m["name"]: m for m in spec()["end_to_end"]}
    runs = []
    for i in range(k):
        r = run_once(workload, seed + i, seconds, False, echo=False)
        vals = {n: m["value"] for n, m in r["metrics"].items()}
        print(f"run {i + 1}/{k} seed={seed + i} correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']} " +
              " ".join(f"{n}={v:.4g}" for n, v in vals.items()), flush=True)
        runs.append(r)
    print(f"\n{workload}: {k} runs, seeds {seed}..{seed + k - 1}")
    print(f"  {'metric':<14} {'unit':<6} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'min':>12} {'max':>12} {'spread':>8} {'bound':>6}")
    steady = True
    for name, m in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("inf")
        ok = name == "setup_s" or spread <= m["bound"] / 3
        steady &= ok
        print(f"  {name:<14} {m['unit']:<6} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{min(vals):12.4f} {max(vals):12.4f} {spread:8.4f} {m['bound']:6.2f}"
              f"{'' if ok else '  above bound/3'}")
    failed = sum(r["failed"] for r in runs)
    print(f"  failed ops {failed} of {sum(r['attempted'] for r in runs)}; "
          f"{'steady' if steady else 'NOT steady'} (every spread but setup_s within bound/3)")
    return steady and failed == 0


def all_workloads(seed, seconds):
    results = {w: run_once(w, seed, seconds, False, echo=False) for w in WORKLOADS}
    traced = run_once(WORKLOADS[0], seed, seconds, True, echo=False)
    names = [m["name"] for m in spec()["end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    print(f"{'metric':<20}" + "".join(f"{w:>14}" for w in WORKLOADS))
    for n in names:
        print(f"{n + ' (' + units[n] + ')':<20}" +
              "".join(f"{results[w]['metrics'][n]['value']:14.4g}" for w in WORKLOADS))
    print(f"{'failed_ratio':<20}" + "".join(
        f"{results[w]['failed'] / results[w]['attempted']:14.4g}" for w in WORKLOADS))
    print(f"{'trace overhead %':<20}" + "".join(
        f"{100 * (traced['metrics'][f'trace.op_ms_p50.{w}']['value'] / results[w]['metrics']['op_ms_p50']['value'] - 1):14.1f}"
        for w in WORKLOADS))
    print("\nper-layer metrics (traced run):")
    for n, m in traced["metrics"].items():
        print(f"  {n:<44} {m['value']:16.6g} {m['unit']}")
    return all(r["correct"] for r in results.values()) and traced["correct"]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, metavar="K")
    ap.add_argument("--all", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no library sources beside the benchmark (src/main/scala)")
    seconds = a.seconds or spec()["run_seconds"]
    if a.all:
        sys.exit(0 if all_workloads(a.seed, seconds) else 1)
    if not a.workload:
        ap.error("--workload is required")
    if a.repeat:
        sys.exit(0 if repeat(a.workload, a.repeat, a.seed, seconds) else 1)
    result = run_once(a.workload, a.seed, seconds, a.trace == 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

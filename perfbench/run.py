"""Repo benchmark: build, query and churn workloads on the trigram/BM25 engine.

One run, from the root of the checkout:

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

builds the engine and the benchmark from source (first run only), runs one
workload in one JVM on `local[<cpus>]` and prints an end-to-end report, then
as its last line one JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with `--trace 0`, per-layer with `--trace 1`).

Steadiness mode runs every workload repeatedly with distinct seeds and
reports each end-to-end metric's median, quartiles and spreads:

    python3 perfbench/run.py --steady 5 --seconds 10 [--workloads build,query]

See perfbench/README.md for the workloads, metrics and recorded results.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build as bench_build  # noqa: E402

ROOT = bench_build.ROOT
WORKLOADS = ["build", "query", "churn"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RESIDUE_DIRS = ["/tmp", "/dev/shm"]


def listing():
    out = set()
    for d in RESIDUE_DIRS:
        try:
            out |= {os.path.join(d, n) for n in os.listdir(d)}
        except OSError:
            pass
    return out


def run_once(workload, seed, seconds, trace, extra=()):
    """Run one workload in a fresh JVM; returns (stdout lines, exit code)."""
    cp = bench_build.build()
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    log_path = os.path.join(out, f"{workload}-{seed}-trace{trace}.log")
    # C1 only: with C2 the warm-up of Spark's driver-side code runs through
    # ~15 builds (~50 s on 4 vCPUs) at a pace set by the host's load, so
    # every timing of a one-minute run sat on a different point of that
    # curve; C1 reaches its plateau within the first (cold) set-up. C1 alone
    # reserves a 48 MB code cache, which Spark fills; 240 MB is the default
    # with C2.
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=240m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--out", out, *extra]
    before = listing()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            stdout, _ = p.communicate()
            sys.stderr.write(f"perfbench: {workload} run exceeded {JVM_TIMEOUT_S}s\n")
    shutil.rmtree(work, ignore_errors=True)
    if not os.listdir(os.path.join(ROOT, ".bench_work")):
        os.rmdir(os.path.join(ROOT, ".bench_work"))
    residue = sorted(listing() - before)
    if residue:
        sys.stderr.write(f"perfbench: new entries in {', '.join(RESIDUE_DIRS)} during the run "
                         f"(may belong to other processes): {residue}\n")
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return stdout.splitlines(), p.returncode


def result_of(lines):
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    return r if isinstance(r, dict) and "metrics" in r else None


def steady(args):
    """Repeat each workload with seeds 1..N; report spreads per metric and
    keep the values in .bench_out/steady-<workload>.json."""
    workloads = args.workloads.split(",")
    rows = []
    for w in workloads:
        values = {}
        for seed in range(1, args.steady + 1):
            lines, code = run_once(w, seed, args.seconds, 0)
            r = result_of(lines)
            if code != 0 or r is None or not r["correct"]:
                raise SystemExit(f"perfbench: {w} seed {seed} failed")
            for k, v in r["metrics"].items():
                values.setdefault(k, (v["unit"], []))[1].append(v["value"])
        with open(os.path.join(ROOT, ".bench_out", f"steady-{w}.json"), "w") as f:
            json.dump({k: xs for k, (_, xs) in values.items()}, f)
        for k, (unit, xs) in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            iqr = (q3 - q1) / med if med else 0.0
            rng = (max(xs) - min(xs)) / med if med else 0.0
            rows.append((w, k, unit, med, q1, q3, iqr, rng))
    print(f"{'workload':8} {'metric':26} {'unit':8} {'median':>12} {'q1':>12} {'q3':>12}"
          f" {'iqr/med':>8} {'range/med':>9}")
    for w, k, unit, med, q1, q3, iqr, rng in rows:
        flag = "  NOT STEADY" if rng > 0.1 else ""
        print(f"{w:8} {k:26} {unit:8} {med:12.4f} {q1:12.4f} {q3:12.4f} {iqr:8.3f} {rng:9.3f}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N",
                    help="steadiness mode: N runs per workload")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    args = ap.parse_args()
    if args.steady:
        steady(args)
        return
    if not args.workload:
        ap.error("--workload is required")
    lines, code = run_once(args.workload, args.seed, args.seconds, args.trace)
    r = result_of(lines)
    if code != 0 or r is None:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        raise SystemExit(f"perfbench: {args.workload} run failed (exit {code})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()

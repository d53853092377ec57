#!/usr/bin/env python3
"""Steady-state extraction benchmark (see perfbench/README.md).

One run of one workload, in a fresh JVM; the last line of stdout is the
result as one JSON object:

    python3 perfbench/run.py --workload mega_skew --seed 1 --seconds 8 --trace 0

Stability mode: several runs of each workload with seeds 1..N, then each
metric's median, quartiles and spread against its bound in BENCHMARK.json:

    python3 perfbench/run.py --stability --runs 10 [--workload NAME] [--seconds 8]

Tests of the benchmark itself:

    python3 perfbench/run.py --self-test
"""
import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

HEAP = "3g"
TIMEOUT_S = 170
WORKLOADS = ["mega_skew", "commit_resume"]
# Spark 4 on JDK 17 needs these outside spark-submit (JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def jvm(classes: pathlib.Path, work: pathlib.Path, args: list) -> subprocess.CompletedProcess:
    """Runs perfbench.Main in a fresh JVM with a fixed heap."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(classes)] + [str(j) for j in build.spark_jars()])
    log4j = pathlib.Path(__file__).resolve().parent / "log4j2.properties"
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={log4j}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *ADD_OPENS, "-cp", cp, "perfbench.Main", *args]
    # Spark's shuffle and spill files go under the run's own directory.
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    return subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=TIMEOUT_S, cwd=work,
                          env=env)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run; returns the parsed result, or exits non-zero without one."""
    classes = build.build()
    out = build.out_dir()
    work = out / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        r = jvm(classes, work, ["--workload", workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", str(trace),
                                "--work", str(work / "data"), "--cores", str(cores()),
                                "--trace-out", str(out / "traces" / f"{workload}-{seed}.json")])
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {workload} ran past {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout)
        sys.exit(f"perfbench: {workload} failed with exit code {r.returncode}")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"perfbench: malformed result {lines[-1]}")
    return result


def stability(names: list, runs: int, seconds: int) -> None:
    bench = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for name in names:
        results = []
        for seed in range(1, runs + 1):
            res = run_once(name, seed, seconds, 0)
            results.append(res)
            vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
            print(f"{name} seed {seed}: correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} {vals}", file=sys.stderr, flush=True)
        report[name] = {"failed_share": sorted({r["failed"] / r["attempted"] for r in results}),
                        "correct": all(r["correct"] for r in results)}
        for metric in results[0]["metrics"]:
            vals = [r["metrics"][metric]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            report[name][metric] = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
                                    "bound": bounds.get(metric),
                                    "within_third": spread < bounds.get(metric, 1) / 3}
            print(f"{name:14} {metric:17} median {med:12.2f}  q1 {q1:12.2f}  q3 {q3:12.2f}"
                  f"  spread {spread:6.2%}  bound {bounds.get(metric)}")
    print(json.dumps(report))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--stability", action="store_true")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if a.self_test:
        classes = build.build()
        work = build.out_dir() / "work" / f"selftest-{os.getpid()}"
        work.mkdir(parents=True, exist_ok=True)
        try:
            r = jvm(classes, work, ["--self-test", "1"])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(r.stdout, end="")
        sys.exit(r.returncode)
    if a.stability:
        stability([a.workload] if a.workload else WORKLOADS, a.runs, a.seconds)
        return
    if not a.workload:
        p.error("--workload is required")
    print(json.dumps(run_once(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()

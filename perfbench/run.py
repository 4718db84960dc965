#!/usr/bin/env python3
"""Benchmark entry point.

Builds the benchmark together with the program's sources (sbt, only when a
source changed), runs one workload in a Spark JVM, checks its outputs in
DuckDB, and prints one summary line and then the result as one JSON line.

    python3 perfbench/run.py --workload ehr_pipeline --seed 1 --seconds 10 \
        --trace 0

Run it from the repository root. `--trace 0` reports the end-to-end metrics
listed in BENCHMARK.json, `--trace 1` the per-layer ones (from a run with
the benchmark's Spark listeners on).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import checks  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["ehr_pipeline", "corpus_index"]
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    src = ROOT / "src" / "main" / "scala"
    if not (src / "graft").is_dir():
        fail(f"no program sources under {src.relative_to(ROOT)}; run from "
             "the repository root")
    files = sorted(src.rglob("*.scala")) + sorted((HERE / "src").rglob(
        "*.scala")) + [HERE / "build.sbt", HERE / "project" /
                       "build.properties"]
    return files


def build():
    """Compile with sbt unless the classes match the current sources."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = HERE / "target" / "perfbench.stamp"
    classes = HERE / "target" / "scala-2.13" / "classes"
    if (stamp.exists() and stamp.read_text() == digest.hexdigest()
            and classes.is_dir()):
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        fail(f"sbt compile failed with code {proc.returncode}")
    stamp.write_text(digest.hexdigest())
    return classes


def heap():
    """JVM heap as the test suite sizes it: half the RAM, 2g to 8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f
                      if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(classes, args, cores, work, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not Path(spark_home, "jars").is_dir():
        fail("SPARK_HOME must point at a Spark 4 distribution")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the JVM settings the program's own launchers use (tiered C2, a 1g
    # code cache, 4m stacks)
    cmd += [f"-Xmx{heap()}", "-Xss4m", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", f"{classes}{os.pathsep}{Path(spark_home, 'jars')}/*",
            "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), str(cores), str(work)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = "timeout"
    finally:
        log.close()
    if code != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        print(tail, file=sys.stderr)
        fail(f"benchmark JVM ended with {code}")
    return json.loads((work / "result.json").read_text())


def metric_specs(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    specs = metric_specs(args.trace)
    classes = build()
    deadline = time.time() + RUN_LIMIT_S
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(classes, args, cores, work, deadline)
        failures = list(res["errors"]) + list(res["check_failures"])
        if not res["failed"]:
            try:
                failures += checks.run(args.workload, work / "check",
                                       res["input_dir"])
            except Exception as e:  # a check that cannot run fails the run
                failures.append(f"check error: {e!r}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    attempted = max(1, res["attempted"])
    # a run whose outputs fail a check counts every operation as failed
    failed = attempted if failures else res["failed"]
    if args.trace:
        values = dict(res["layers"])
        values["trace.wall_s"] = res["e2e"]["wall_s"]
        missing = [m["name"] for m in specs if m["name"] not in values]
        if missing:
            fail(f"the traced run did not measure {', '.join(missing)}")
        metrics = {m["name"]: {"value": values[m["name"]],
                               "unit": m["unit"]} for m in specs}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]],
                               "unit": m["unit"]} for m in specs}
    # every end-to-end figure by name and unit, the ungated ones too:
    # per-operation p50 and tail (the highest percentile with ten samples
    # beyond it; null below eleven samples), peak task memory, error rate
    shown = {k: {"value": v, "unit": "1/s" if k == "rows_per_s" else
                 "MB" if k.endswith("_mb") else "s"}
             for k, v in res["e2e"].items()}
    # process_cpu_s: CPU seconds the JVM spent per round
    shown["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
    for kind, o in res["ops"].items():
        scale, unit = (1000, "ms") if kind.endswith("_search") else (1, "s")
        shown[f"{kind}_p50_{unit}"] = {"value": o["p50_s"] * scale,
                                       "unit": unit, "n": o["n"]}
        tail = o["tail_s"]
        shown[f"{kind}_tail_{unit}"] = {
            "value": None if tail is None else tail * scale, "unit": unit,
            "percentile": o["tail_pct"], "n": o["n"]}
    summary = {
        "workload": args.workload, "seed": args.seed,
        "traced": bool(args.trace), "rounds": res["rounds"],
        "round_walls_s": res["round_walls_s"], "rows": res["rows"],
        "failures": failures, "metrics": shown,
        "setup_reps_s": res["setup_reps_s"], "phases_s": res["phases_s"],
        "generated": res["generated"],
        # per-call and per-store figures of the traced run, beside the
        # session-wide per-layer metrics
        "layers": res["layers"],
        "env": res["env"]}
    print(json.dumps({"summary": summary}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

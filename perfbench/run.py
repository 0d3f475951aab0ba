#!/usr/bin/env python3
"""Lakehouse benchmark for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest|dashboard \
        --seed N --seconds S --trace 0|1

Compiles `src/main/scala` and `perfbench/src` with the Scala compiler that
ships in the Spark distribution (cached under `.bench_build/`), writes the
seeded fixtures, runs one workload in a fresh JVM on `local[4]` and prints
one JSON line last: `correct`, `attempted`, `failed` and the metrics that
BENCHMARK.json lists (`end_to_end` with `--trace 0`, `per_layer` with
`--trace 1`). `per_layer` holds the layer metrics both workloads measure;
a traced run prints the layers only its workload exercises to stderr.
Each run works in its own directory under `.bench_build/runs` and removes
it before exiting. Exits 1 on any failed answer check.

Set PERFBENCH_CORES to run on another core count (the local[1] reference).
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

DEADLINE_S = 170

WORKLOADS = ("dashboard", "ingest")

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the sbt build compiles against (its unmanagedBase),
    else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if not os.environ.get("SPARK_HOME"):
        fail("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def build():
    """Compiles the engine and the benchmark; returns the classes dir."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no engine sources at {main_src}")
    srcs = sorted(glob.glob(os.path.join(main_src, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not jars:
        fail(f"no Spark jars in {spark_jars()}")
    digest = hashlib.sha256()
    for p in srcs + jars:
        digest.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                digest.update(f.read())
    classes = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(jars)
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("compile failed:\n" + res.stdout[-4000:])
    open(os.path.join(classes, ".done"), "w").close()
    return classes


def oracle_failures(fixtures, answers):
    """DuckDB over the fixtures vs the dumped answers, via tools/check_oracle.py."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(fixtures, answers)
    n = len(json.load(open(os.path.join(answers, "oracle_sql.json"))))
    return n, [ln for ln in buf.getvalue().splitlines() if ln.startswith("FAIL")]


def run_jvm(classes, args, log_path, timeout):
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(spark_jars(), "*")])
    # Lower JIT thresholds: at the default ones the planning-bound rounds and
    # requests keep speeding up for about a minute as compilation catches
    # up, so a short run would time the warm-up curve, not the program.
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
            "-XX:CompileThresholdScaling=0.2",
            f"-Djava.io.tmpdir={args['tmp']}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + JVM_OPENS + ["-cp", cp, "perfbench.LakeBench"]
           + [x for k in ("workload", "seed", "seconds", "trace", "fixtures",
                          "work", "cores") for x in (f"--{k}", str(args[k]))])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except BaseException:  # timeout, or SIGTERM turned into SystemExit
            proc.kill()
            proc.wait()
            raise
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"workload JVM exited {proc.returncode}:\n{tail}")
    return json.loads(lines[-1])


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    classes = build()
    # set-up is timed from here: the one-off compile is not the program's
    t_setup = time.time()
    sys.path.insert(0, HERE)
    import gen

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        fixtures = os.path.join(run_dir, "fixtures")
        if a.workload != "ingest":
            gen.write_fixtures(fixtures, a.seed)
        for d in ("tmp", "work"):
            os.makedirs(os.path.join(run_dir, d))
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "fixtures": fixtures,
                "work": os.path.join(run_dir, "work"),
                "tmp": os.path.join(run_dir, "tmp"),
                "cores": int(os.environ.get("PERFBENCH_CORES", "4"))}
        budget = DEADLINE_S - (time.time() - t_setup)
        res = run_jvm(classes, args, os.path.join(run_dir, "jvm.log"), budget)
        problems = list(res["problems"])
        attempted = res["attempted"]
        answers = os.path.join(args["work"], "answers")
        if os.path.exists(os.path.join(answers, "oracle_sql.json")):
            n, bad = oracle_failures(fixtures, answers)
            attempted += n
            problems += [f"oracle: {b}" for b in bad]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = res["ops"] or [0.0]  # empty only after a failed operation
    m = dict(res["metrics"])
    m["setup_s"] = res["first_op_epoch_ms"] / 1000.0 - t_setup
    m["op_p50_s"] = statistics.median(ops)
    m["work_per_s"] = res["work"] / res["wall_s"] if res["wall_s"] > 0 else 0.0
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for w in wanted:
        if m.get(w["name"]) is None:
            fail(f"metric {w['name']} was not measured")
        metrics[w["name"]] = {"value": m[w["name"]], "unit": w["unit"]}
    if a.trace:
        # the layers only this workload exercises (streaming on ingest;
        # read kinds, panels, connector and operators on dashboard)
        detail = {k: v for k, v in sorted(res["metrics"].items())
                  if k not in metrics and k != "heap_live_end_mb"}
        print(f"perfbench: {a.workload} layer detail: {json.dumps(detail)}",
              file=sys.stderr)
    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed={a.seed} op latencies (s): "
          + " ".join(f"{x:.3f}" for x in ops), file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": len(problems), "metrics": metrics}))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()

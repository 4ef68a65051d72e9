"""CoCoA pipeline benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source with perfbench/build.sh (skipped while the
sources are unchanged), writes the workload's inputs from the seed (gen.py)
and starts one benchmark JVM (src/perfbench/Bench.scala). That JVM builds
its session with the confs of `RunPipeline.main`, runs `RunPipeline.run`
once as a fresh CLI process would (the cold run) and once more untimed
(the warm-up), then:

  --trace 0  times warm in-JVM `RunPipeline.run` calls for S seconds, at
             least one, and prints the end-to-end metrics;
  --trace 1  runs the pipeline staged into its public calls, one span per
             layer, for S seconds and prints the per-layer metrics. The
             spans are written to .bench_work/results/.

End-to-end metrics, all wall clock:
  setup_s        JVM start until the SparkSession is ready
  cold_run_s     JVM start until the cold run returns
  run_s          median warm run, dates to both CSVs written
  nc_rows_per_s  cleaned noconsent rows adjusted per second of run_s
  ok_ratio       runs that passed every check / runs attempted

Every run's artifacts are checked. The last line of stdout is one JSON
object with the keys correct, attempted, failed and metrics; the line
before it records the context (nproc, JVM flags, Spark version, confs,
input sizes, peak RSS), the warm runs' median, maximum, sample count and
samples, and any problems. The exit code is non-zero when a check failed,
the program threw or the benchmark JVM ran out of time.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(".bench_build", "perfbench")
WORK = ".bench_work"
HEAP = "4g"
DEADLINE_S = 170  # the benchmark JVM is killed after this, counted from the build's end
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "cold_run_s": "s", "run_s": "s",
              "nc_rows_per_s": "1/s", "ok_ratio": "ratio"}
LAYERS = ["io.scan", "preprocess", "matcher", "knn", "summary.radius",
          "adjust.softmax", "adjust.distribute", "summary", "io.sink"]
LAYER_METRICS = {"wall_s": "s", "task_s": "s", "core_util": "ratio",
                 "shuffle_bytes": "B", "spill_bytes": "B", "jobs": "count"}
PER_LAYER = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()}
PER_LAYER.update({
    "knn.candidate_pairs": "count", "knn.selected_pairs": "count",
    "knn.useful_ratio": "ratio", "io.scan.bytes_read": "B",
    "preprocess.rows_dropped": "count", "io.sink.bytes_written": "B",
    "io.sink.files": "count", "pipeline.run_s": "s", "pipeline.jobs": "count",
    "pipeline.stages": "count", "pipeline.leaked_pins": "count",
    "pipeline.leaked_pin_bytes": "B", "pipeline.trace_overhead_s": "s"})


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def build(jars):
    """Compiles the program and the benchmark unless the stamp matches."""
    sources = [os.path.join(HERE, "build.sh")]
    for top in ("src/main/scala", os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            sources += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    h = hashlib.sha256()
    for f in sorted(sources):
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        if subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD, jars],
                          stdout=log, stderr=subprocess.STDOUT).returncode != 0:
            fail(f"build failed, see {log.name}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def timing(values):
    """Median, maximum and count: with fewer than 20 samples no percentile
    below the maximum has ten samples beyond it."""
    return {"median": statistics.median(values), "max": max(values), "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        fail("run from the repository root: src/main/scala not found")
    jars = spark_jars()
    build(jars)

    started = time.time()
    cpus = len(os.sched_getaffinity(0))
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(WORK, f"{name}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    try:
        inputs = os.path.join(work, "inputs")
        manifest = gen.generate(a.workload, a.seed, inputs, 2 * cpus)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        result_file = os.path.join(work, "bench.json")
        log = os.path.join(work, "bench.log")
        cmd = (["java"] + [f for p in ADD_OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + [f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Dspark.local.dir={tmp}",
                  f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                  "-cp", f"{os.path.join(BUILD, 'classes')}:{jars}/*", "perfbench.Bench",
                  "--inputs", inputs, "--out", os.path.join(work, "out"),
                  "--result", result_file, "--cpus", str(cpus), "--seconds", str(a.seconds),
                  "--trace", str(a.trace),
                  "--spans", os.path.join(results, f"{name}.spans.json")])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp)
        problems = []
        with open(log, "w") as fh:
            launch_ms = int(time.time() * 1000)
            try:
                rc = subprocess.run(cmd + ["--launch-ms", str(launch_ms)], env=env, stdout=fh,
                                    stderr=subprocess.STDOUT,
                                    timeout=DEADLINE_S - (time.time() - started)).returncode
            except subprocess.TimeoutExpired:
                rc = None
                problems.append(f"benchmark JVM killed after {DEADLINE_S} s")
        if os.path.exists(result_file):
            r = json.load(open(result_file))
        else:
            sys.stderr.write(open(log).read()[-4000:])
            problems.append(f"benchmark JVM exited with {rc} and wrote no result")
            r = {"attempted": 1, "failed": 0, "problems": [], "context": {}, "peak_rss_mb": None}
        attempted, failed = r["attempted"], r["failed"] + (rc != 0)
        problems = r["problems"] + problems
        if rc not in (0, None) and os.path.exists(result_file):
            problems.append(f"benchmark JVM exited with {rc}")

        context = dict(r["context"], seed=a.seed, workload=a.workload,
                       peak_rss_mb=r["peak_rss_mb"],
                       dates=len(manifest["dates"]),
                       consent_rows=sum(manifest["consent_clean_rows"].values()),
                       noconsent_rows=sum(manifest["noconsent_clean_rows"].values()))
        if a.trace == 0 and r.get("run_s"):
            run = timing(r["run_s"])
            values = {"setup_s": r["setup_s"], "cold_run_s": r["cold_run_s"],
                      "run_s": run["median"],
                      "nc_rows_per_s": r["noconsent_rows"] / run["median"],
                      "ok_ratio": (attempted - failed) / max(attempted, 1)}
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
            detail = {"run_s": dict(run, samples=r["run_s"])}
        elif a.trace == 1 and r.get("iterations"):
            its = r["iterations"]
            metrics = {k: {"value": statistics.median(it[k] for it in its), "unit": u}
                       for k, u in PER_LAYER.items()}
            detail = {"iterations": len(its), "knn.route": its[0]["knn.route"],
                      "knn.candidate_pairs": its[0]["knn.candidate_pairs"]}
        else:
            metrics, detail = {}, {}
            failed = max(failed, 1)
        record = {"context": context, "detail": detail, "problems": problems,
                  "metrics": metrics}
        with open(os.path.join(results, f"{name}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
        print(json.dumps({"context": context, "detail": detail, "problems": problems[:10]}))
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                          "failed": failed, "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

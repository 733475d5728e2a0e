#!/usr/bin/env python3
"""KG-pipeline benchmark: builds the checkout it sits in, runs one workload
per forked JVM and prints one JSON result line.

    python3 perfbench/run.py --workload select_humans --seed 1 --seconds 10 --trace 0

--workload all runs every workload in turn. --tiny runs at a few thousand
entities, for the self-check (perfbench/selftest.py). Build outputs,
generated corpora, references and per-run result files go to
.bench_build/ at the root of the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

WORKLOADS = ["select_humans", "full_dump", "backend_multi", "canon"]

# Entities per workload: each run (three set-ups, reference, timed jobs)
# stays near a minute on a 4-core box; see README.md for why.
SIZES = {"select_humans": 80000, "full_dump": 15000, "backend_multi": 6000, "canon": 10000}
TINY_SIZE = 3000

END_TO_END = [
    ("setup_s", "s"),
    ("job_s", "s"),
    ("entities_per_s", "1/s"),
    ("triples_per_s", "1/s"),
    ("cpu_s", "s"),
    ("peak_heap_mb", "MB"),
    ("ok_frac", "frac"),
]

PER_LAYER = [
    ("scan.rows", "count"), ("scan.input_mb", "MB"), ("scan.busy_s", "s"),
    ("prefilter.rows_out", "count"), ("prefilter.pass_frac", "frac"), ("prefilter.busy_s", "s"),
    ("gate.rows_out", "count"), ("gate.busy_s", "s"), ("gate.precision", "frac"),
    ("parse.rows", "count"), ("parse.busy_s", "s"),
    ("emit.triples", "count"), ("emit.triples_per_entity", "triples/entity"), ("emit.busy_s", "s"),
    ("dedup.keep_frac", "frac"), ("dedup.busy_s", "s"), ("dedup.shuffle_write_mb", "MB"),
    ("dedup.shuffle_read_mb", "MB"), ("dedup.fetch_wait_s", "s"), ("dedup.spill_mb", "MB"),
    ("dedup.gc_s", "s"),
    ("write.rows", "count"), ("write.output_mb", "MB"), ("write.files", "count"),
    ("write.busy_s", "s"), ("write.wall_s", "s"),
    ("counters.busy_s", "s"), ("backend.other_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_failures", "count"), ("jvm.gc_s", "s"),
    ("trace.job_s", "s"), ("trace.untraced_job_s", "s"), ("trace.overhead_s", "s"),
]

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 165
KEEP_CORPORA = 12


def log(*args):
    print("[perfbench]", *args, file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the local Spark install: $SPARK_HOME, else the
    install that spark-submit on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise RuntimeError("no Spark install found: set SPARK_HOME")
    return jars


def build():
    """Compile the program and the harness with sbt; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    log("building with sbt ...")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "-Djava.io.tmpdir=" + tmp, "-J-XX:-UsePerfData",
           "-Dperfbench.sparkJars=" + spark_jars()]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    cmd += ["compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=BUILD_TIMEOUT_S)
    cps = [l for l in p.stdout.splitlines() if ".bench_build" in l and ":" in l and " " not in l]
    sys.stderr.write("\n".join(l for l in p.stdout.splitlines()[-40:] if l not in cps) + "\n")
    if p.returncode != 0 or not cps:
        raise RuntimeError("sbt build failed (exit %d)" % p.returncode)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def box():
    """(cores, heap MB) for the child JVM, set from this machine."""
    cores = len(os.sched_getaffinity(0))
    mem_mb = 4096
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_mb = int(line.split()[1]) // 1024
    return cores, max(1024, min(3072, mem_mb // 4))


def cpu_ticks():
    """(busy, steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return sum(t) - t[3] - t[4], t[7] if len(t) > 7 else 0, sum(t)


def evict_corpora(cache):
    dirs = [os.path.join(cache, d) for d in os.listdir(cache) if d.startswith("corpus-")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_CORPORA:]:
        subprocess.run(["rm", "-rf", d], check=False)


def run_workload(classpath, workload, seed, seconds, trace, tiny):
    cores, heap_mb = box()
    entities = TINY_SIZE if tiny else SIZES[workload]
    cache = os.path.join(BUILD, "fixtures")
    work = os.path.join(BUILD, "work", "%s-%d" % (workload, os.getpid()))
    results = os.path.join(BUILD, "results")
    tmp = os.path.join(BUILD, "tmp")
    for d in (cache, work, results, tmp):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(results, "%s-s%d%s.json" % (workload, seed, "-trace" if trace else ""))
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", "-Xms%dm" % heap_mb, "-Xmx%dm" % heap_mb, "-XX:+UseG1GC",
           "-XX:+ExitOnOutOfMemoryError", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--entities", str(entities),
            "--cores", str(cores), "--setups", "1" if tiny else "3",
            "--cache", cache, "--work", work, "--out", out]
    log("%s: %d entities, local[%d], heap %d MB, seed %d, trace %d"
        % (workload, entities, cores, heap_mb, seed, trace))
    t0 = cpu_ticks()
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=RUN_TIMEOUT_S)
        code = p.returncode
    except subprocess.TimeoutExpired:
        code = "timeout"
    t1 = cpu_ticks()
    d = os.path.join(cache, "corpus-n%d-s%d" % (entities, seed))
    if os.path.exists(d):
        os.utime(d)
    evict_corpora(cache)
    subprocess.run(["rm", "-rf", work], check=False)
    if code != 0 or not os.path.exists(out):
        log("%s: run failed (%s)" % (workload, code))
        return None
    with open(out) as f:
        res = json.load(f)
    # CPU time the hypervisor gave to other guests while this run was on:
    # a noisy neighbour shows here, not in the program's own figures
    if t0 and t1 and t1[2] > t0[2]:
        res["machine"] = {"steal_frac": (t1[1] - t0[1]) / (t1[2] - t0[2]),
                          "busy_frac": (t1[0] - t0[0]) / (t1[2] - t0[2])}
        with open(out, "w") as f:
            json.dump(res, f)
        log("%s: machine busy %.0f%%, steal %.1f%%" % (
            workload, 100 * res["machine"]["busy_frac"], 100 * res["machine"]["steal_frac"]))
    return res


def result_line(res, trace):
    names = PER_LAYER if trace else END_TO_END
    if res is None:
        metrics = {n: {"value": 0.0, "unit": u} for n, u in names}
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": metrics}
    got = res["metrics"]
    missing = [n for n, _ in names if n not in got]
    correct = bool(res["correct"]) and not missing
    if missing:
        log("missing metrics:", ", ".join(missing))
    metrics = {n: {"value": float(got.get(n, 0.0)), "unit": u} for n, u in names}
    return {"correct": correct, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Pipeline.scala")):
        log("no program sources under %s/src/main; nothing to measure" % ROOT)
        return 2
    classpath = build()

    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    lines = {}
    for w in workloads:
        lines[w] = result_line(run_workload(classpath, w, a.seed, a.seconds, a.trace == 1, a.tiny),
                               a.trace == 1)
        if len(workloads) > 1:
            print(json.dumps(dict(lines[w], workload=w)), flush=True)
    if len(workloads) == 1:
        final = lines[workloads[0]]
    else:
        final = {"correct": all(l["correct"] for l in lines.values()),
                 "attempted": sum(l["attempted"] for l in lines.values()),
                 "failed": sum(l["failed"] for l in lines.values()),
                 "metrics": {"%s.%s" % (w, n): m for w, l in lines.items()
                             for n, m in l["metrics"].items()}}
    print(json.dumps(final), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

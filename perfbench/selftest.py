#!/usr/bin/env python3
"""Self-check of the benchmark at tiny size (a few thousand entities).

    python3 perfbench/selftest.py

Checks that BENCHMARK.json and run.py agree on metric names and units,
that every workload passes its output check untraced and traced and
prints every metric, that write.* is non-zero only on backend_multi, and
that run.py fails without printing a result when the program's sources
are missing.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def last_json(stdout):
    lines = [l for l in stdout.splitlines() if l.strip()]
    return json.loads(lines[-1]) if lines else None


def bench(workload, trace, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check([(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END,
          "BENCHMARK.json end_to_end matches run.py")
    check([(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER,
          "BENCHMARK.json per_layer matches run.py")
    workloads = [w["name"] for w in spec["workloads"]]
    check(all(w in run.WORKLOADS for w in workloads), "every workload is known to run.py")

    traced = {}
    for w in workloads:
        for trace in (0, 1):
            p = bench(w, trace)
            res = last_json(p.stdout)
            names = run.PER_LAYER if trace else run.END_TO_END
            check(p.returncode == 0 and res is not None, "%s trace=%d exits 0 with a result" % (w, trace))
            if res is None:
                continue
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  "%s trace=%d output matches its reference" % (w, trace))
            check(set(res["metrics"]) == {n for n, _ in names},
                  "%s trace=%d prints every metric" % (w, trace))
            if not trace:
                check(all(m["value"] > 0 for m in res["metrics"].values()),
                      "%s end-to-end metrics are non-zero" % w)
            else:
                traced[w] = {k: m["value"] for k, m in res["metrics"].items()}

    for w, m in traced.items():
        wrote = any(m[k] > 0 for k in ("write.rows", "write.output_mb", "write.busy_s"))
        check(wrote == (w == "backend_multi"), "%s: write.* non-zero only on backend_multi" % w)
        if w != "backend_multi":
            check(m["dedup.busy_s"] > 0 and m["emit.triples"] > 0, "%s: emit and dedup traced" % w)

    bare = os.path.join(run.BUILD, "bare-%d" % os.getpid())
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    p = bench(workloads[0], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(p.returncode != 0 and not p.stdout.strip(), "fails without a result when sources are missing")

    print("%d failure(s)" % len(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

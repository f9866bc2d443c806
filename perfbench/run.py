#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one fresh JVM on local[nproc].

    python3 perfbench/run.py --workload elt_build --seed 1 --seconds 10 --trace 0

Builds the program from source (build.py), generates the seeded inputs
(inputs.py), runs set-up and the workload's passes in the harness JVM
(scala/perfbench/Harness.scala), checks every
pass against the DuckDB oracle (oracle.py) and prints, as the last line of
stdout, one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics with `--trace 0`, the per-layer ones with
`--trace 1`). The line before it is the machine-stamped record.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402

# Input size per workload, and the spans its traced passes report
# (see README.md).
WORKLOADS = {
    "elt_build": {"size": {"orders": 50_000},
                  "spans": ["olist.seeds", "olist.fct_orders", "checks.gate"]},
    "corpus_rebuild": {"size": {"documents": 2_000},
                       "spans": ["llm.stage_counts"]},
    "graph_fixpoint": {"size": {"lines": 15_000, "suppliers": 30},
                       "spans": ["graphs.msf"]},
}
# a fixed heap and young generation, so peak RSS follows the workload's
# allocation rather than the collector's adaptive sizing
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn256m"]
JDK17_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 120
# A warm pass of each workload takes about this long on a 4-core machine; a
# run makes round(seconds / PASS_S) timed passes (at least 2). A fixed
# count, rather than "until the time is up", gives every run of a
# workload the same passes, so the median sits at the same point of the
# JIT's warm-up in every run. Full steady state takes 2-6 passes after
# the cold one, more than a run's time allows; an untimed warm-up pass
# does not narrow the spread across runs, which host load dominates
# (see README.md).
PASS_S = 4.0


def spec():
    """BENCHMARK.json: the metric names and units this run reports."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def java(classes, tmp, main, args, log):
    cmd = ["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.jars_dir(), "*"),
            main] + [str(a) for a in args]
    # the engine's own overrides (master, confs, checkpoint dir) stay unset,
    # and Spark's scratch space stays inside the run directory
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    with open(log, "a") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=fh, env=env)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"{main} timed out after {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        raise RuntimeError(f"{main} exited with {proc.returncode}")


def source_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                              capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    size = WORKLOADS[a.workload]["size"]
    bench = spec()
    cores = len(os.sched_getaffinity(0))

    bdir = build.build_dir()
    os.makedirs(bdir, exist_ok=True)
    classes, digest = build.build(log=sys.stderr)
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    in_dir, work, tmp = (os.path.join(run_dir, d) for d in ("input", "work", "tmp"))
    for d in (in_dir, work, tmp):
        os.makedirs(d)
    log = os.path.join(run_dir, "jvm.log")
    try:
        t0 = time.time()
        rows = inputs.generate(a.workload, in_dir, a.seed, size)
        gen_s = time.time() - t0
        rec_path = os.path.join(run_dir, "record.json")
        java(classes, tmp, "perfbench.Harness",
             ["--workload", a.workload, "--input", in_dir, "--work", work,
              "--passes", max(2, round(a.seconds / PASS_S)), "--trace", a.trace,
              "--cores", cores,
              "--record", rec_path], log)
        with open(rec_path) as fh:
            rec = json.load(fh)
        t0 = time.time()
        errors = oracle.check(a.workload, in_dir, rec)
        oracle_s = time.time() - t0
    except Exception as e:
        if os.path.exists(log):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
        print(f"[perfbench] run failed: {e}", file=sys.stderr)
        sys.exit(1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes = rec["passes"]
    for p, err in zip(passes, errors):
        p["ok"] = err is None
        if err:
            print(f"[perfbench] {p['kind']} pass failed: {err}", file=sys.stderr)
    failed = sum(not p["ok"] for p in passes)
    walls = lambda kind: [p["wall_s"] for p in passes if p["kind"] == kind]
    wall = statistics.median(walls("timed"))
    e2e = {"setup_s": rec["setup_s"], "cold_s": walls("cold")[0],
           "wall_s": wall, "rows_per_s": rows / wall,
           "peak_rss_mb": rec["peak_rss_mb"]}
    if a.trace:
        spans = WORKLOADS[a.workload]["spans"]
        traced = [p["spans"] for p in passes if p["kind"] == "traced"]
        # the median over the traced passes; spans of other workloads read 0
        values = {m["name"]: 0.0 for m in bench["per_layer"]}
        for name in values:
            if name.rsplit(".", 1)[0] in spans:
                values[name] = statistics.median(t[name] for t in traced)
        for name in ("trace.unattributed_s", "trace.unattributed_jobs"):
            values[name] = statistics.median(t[name] for t in traced)
        values["trace.overhead_s"] = (statistics.mean(walls("traced"))
                                      - statistics.mean(walls("control")))
        # job counts must repeat exactly from one traced pass to the next
        values["trace.count_mismatch"] = float(sum(
            t[f"{s}.{c}"] != traced[0][f"{s}.{c}"] for t in traced[1:]
            for s in spans for c in ("jobs", "wcc_jobs") if f"{s}.{c}" in values))
        listed = bench["per_layer"]
    else:
        values = e2e
        listed = bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in listed}

    stamp = dict(rec["stamp"], workload=a.workload, seed=a.seed, trace=a.trace,
                 git_sha=source_sha(), source_hash=digest, nproc=cores,
                 heap=HEAP, input_rows=rows, input_size=size,
                 timed_passes=len(walls("timed")),
                 input_gen_s=gen_s, oracle_s=oracle_s,
                 error_rate=failed / len(passes))
    print(json.dumps({"stamp": stamp, "end_to_end": e2e,
                      "passes": [{k: p[k] for k in ("kind", "wall_s", "ok")}
                                 for p in passes]}))
    print(json.dumps({"correct": failed == 0, "attempted": len(passes),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

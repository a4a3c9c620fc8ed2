#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload etl|curation|stream --seed N \\
        --seconds S --trace 0|1 [--scale full|smoke]

Run from the repository root. It builds the engine and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the harness JVM as a closed loop with one
client on local[cores], checks every output against a reference that
does not come from the engine (perfbench/check.py), and prints one JSON
object as the last line of stdout. `--trace 0` reports the end-to-end
metrics; `--trace 1` registers the listeners, records spans and reports
the per-layer metrics, and keeps the spans in
`.bench_build/traces/<workload>-<seed>.jsonl`. Earlier stdout lines carry
the inputs' sizes and every detail metric by name and unit.

The corpus the inputs derive from is `$PERFBENCH_CORPUS`, by default
`~/testdata` (sf0.1, sf0.01 and sf0.001 subdirectories).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Workload scales. `full` is what the benchmark measures; `smoke` is the
# tiny run of every path that perfbench/smoke.py drives.
SCALES = {
    "full": {
        "etl": {"corpus": "sf0.1", "sample": 40,
                "queries": "q_tpch_q1,q_tpch_q3"},
        "stream": {"corpus": "sf0.01", "triggers": 2},
        "curation": {"corpus": "sf0.01", "copies": 5,
                     "rows": "x2b_dedup_jaccard_capped,t8_quality_signals,"
                             "x5_ann_cosine_topk,x22d_topic_fitted"},
    },
    "smoke": {
        "etl": {"corpus": "sf0.001", "sample": 4, "queries": "q_tpch_q1"},
        "stream": {"corpus": "sf0.001", "triggers": 3},
        "curation": {"corpus": "sf0.001", "copies": 2,
                     "rows": "x2b_dedup_jaccard_capped,x22d_topic_fitted"},
    },
}
JVM_TIMEOUT_S = 165
# A fixed, pre-touched 1 GB heap: peak RSS then follows the native
# footprint instead of when G1 chose to grow the heap.
JAVA_OPTS = ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:-UsePerfData"]
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def generate(workload, scale, corpus, inputs, seed):
    src = os.path.join(corpus, scale["corpus"])
    if workload == "etl":
        return gen.etl(src, inputs, seed, scale["sample"])
    if workload == "curation":
        return gen.curation(src, inputs, seed, scale["copies"])
    return gen.stream(src, inputs, seed)


def run_jvm(cp, work, inputs, args, scale, cores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log4j = os.path.join(HERE, "harness", "log4j2.properties")
    cmd = (["java"] + JAVA_OPTS
           + [f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={log4j}"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness",
              f"workload={args.workload}", f"inputs={inputs}", f"work={work}",
              f"seconds={args.seconds}", f"trace={args.trace}", f"seed={args.seed}",
              f"cores={cores}", f"launch_ms={int(time.time() * 1000)}"]
           + [f"{k}={v}" for k, v in scale.items() if k != "corpus"])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
    if p.returncode != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise RuntimeError(f"harness JVM exited {p.returncode}:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl", "curation", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=list(SCALES), default="full")
    args = ap.parse_args()

    root = os.getcwd()
    try:
        cp = build.classpath(root)
    except build.BuildError as e:
        sys.exit(f"[perfbench] cannot build the engine: {e}")
    corpus = os.environ.get("PERFBENCH_CORPUS", os.path.expanduser("~/testdata"))
    scale = SCALES[args.scale][args.workload]
    if not os.path.isdir(os.path.join(corpus, scale["corpus"])):
        sys.exit(f"[perfbench] corpus {scale['corpus']} not found under {corpus}")
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(build.build_dir(root), "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        t0 = time.time()
        sizes = generate(args.workload, scale, corpus, inputs, args.seed)
        print(json.dumps({"inputs": sizes, "scale": args.scale,
                          "generate_s": round(time.time() - t0, 3)}))
        result = run_jvm(cp, work, inputs, args, scale, cores)
        checker = check.Checker(inputs, result["oracle_sql"])
        failures = [dict(o, error=checker.check(o)) for o in result["outputs"]]
        failures = [f for f in failures if f["error"]]
        spans = []
        if args.trace:
            trace = os.path.join(work, "trace.jsonl")
            with open(trace) as f:
                spans = [json.loads(line) for line in f if line.strip()]
            kept = os.path.join(build.build_dir(root), "traces")
            os.makedirs(kept, exist_ok=True)
            shutil.copy(trace, os.path.join(kept, f"{args.workload}-{args.seed}.jsonl"))
        report = metrics.report(args.workload, result, spans, failures, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for f in failures + result["errors"]:
        print(json.dumps({"failed": f}))
    print(json.dumps({"detail": report["detail"]}))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": report["per_layer"] if args.trace else report["end_to_end"]}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Quick test of the benchmark's own code: the metric printer on a
synthetic record, the refusal to run without the engine's sources, and
a tiny-scale run (sf0.001 corpus, 3 triggers, a tiny etl set) of every
workload path.

    python3 perfbench/smoke.py        # from the repository root
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
E2E = {m["name"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"] for m in SPEC["per_layer"]}


def printer():
    spark = {k: 1.0 for k in metrics.SPARK}
    result = {
        "setup": {"s": 3.0, "gc_s": 0.1, "jit_s": 1.0}, "peak_rss_mb": 100.0,
        "passes": [
            {"pass": 0, "traced": False, "wall_s": 2.0, "cpu_s": 3.0,
             "gc_s": 0.1, "jit_s": 0.2, "live_heap_mb": 50.0, "spark": {}},
            {"pass": 1, "traced": True, "wall_s": 2.2, "cpu_s": 3.1,
             "gc_s": 0.1, "jit_s": 0.2, "live_heap_mb": 51.0, "spark": spark}],
        "ops": [{"pass": p, "name": f"trigger.{i}", "s": 0.5 + i}
                for p in (0, 1) for i in range(2)],
        "errors": []}
    s = 10 ** 9
    spans = [
        {"pass": 1, "id": 0, "parent": -1, "layer": "bench", "name": "trigger.0",
         "start_ns": 0, "end_ns": s, "jobs": 3},
        {"pass": 1, "id": 1, "parent": 0, "layer": "streaming",
         "name": "stream.pairs", "start_ns": s // 10, "end_ns": 6 * s // 10, "jobs": 2}]
    r = metrics.report("stream", result, spans, [{"pass": 1, "op": "trigger.0"}], 4)
    assert set(r["end_to_end"]) == E2E, sorted(r["end_to_end"])
    assert set(r["per_layer"]) == PER_LAYER, sorted(PER_LAYER - set(r["per_layer"]))
    assert (r["attempted"], r["failed"]) == (4, 1)
    d = {k: v["value"] for k, v in r["detail"].items()}
    assert abs(d["self.streaming_s"] - 0.5) < 1e-9
    # bench self = the trigger span's own 0.5 s + 1.2 s outside any span
    assert abs(d["self.bench_s"] - 1.7) < 1e-9
    assert abs(d["trace.overhead_frac"] - 0.1) < 1e-9
    assert d["op_p50_s"] == 1.0 and d["stream.jobs_per_trigger"] == 3
    print("[smoke] metric printer ok")


def refuses_without_sources():
    d = os.path.join(build.build_dir(ROOT), "smoke-bare")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    env = dict(os.environ)
    env.pop("CARGO_TARGET_DIR", None)
    p = subprocess.run(SPEC["command"] + ["--workload", "etl", "--seed", "1",
                                          "--seconds", "1", "--trace", "0"],
                       cwd=d, env=env, capture_output=True, text=True, timeout=180)
    shutil.rmtree(d)
    assert p.returncode != 0 and '"metrics"' not in p.stdout, p.stdout
    print("[smoke] refuses to run without the engine's sources")


def run(workload, trace):
    p = subprocess.run(SPEC["command"] + [
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--scale", "smoke"],
        capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last
    assert last["correct"] and last["failed"] == 0, p.stdout[-3000:]
    assert set(last["metrics"]) == (PER_LAYER if trace else E2E), last["metrics"]
    for m in last["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]
    print(f"[smoke] {workload} trace={trace} ok: {last['attempted']} operations")


if __name__ == "__main__":
    printer()
    refuses_without_sources()
    run("etl", 0)
    for w in ("etl", "stream", "curation"):
        run(w, 1)
    print("[smoke] all ok")

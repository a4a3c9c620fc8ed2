"""Turns the harness's raw record (result.json, spans) into metrics.

End-to-end metrics come from every timed pass of an untraced run.
Per-layer metrics come from the traced passes of a traced run, whose
passes run untraced, traced, traced, untraced; the gap between the two
kinds is the tracing overhead. `detail` holds every metric of the run,
including the ones that only exist on one workload; `per_layer` is the
subset declared in BENCHMARK.json, which every workload measures.
"""
import statistics
from collections import defaultdict

# curation row -> family, for the family sums (the rows a scale runs)
FAMILIES = {"pairs": "x2b_", "text": "t8_", "vector": "x5_", "graph": "x22d_"}
LAYERS = ["bench", "sources", "pipeline", "queries", "streaming", "durable", "spark"]
SPARK = {"jobs": "count", "stages": "count", "tasks": "count", "queries": "count",
         "exec_run_s": "s", "exec_cpu_s": "s", "shuffle_write_mb": "MB",
         "shuffle_read_mb": "MB", "spill_mb": "MB", "input_mb": "MB",
         "output_mb": "MB", "plan_s": "s"}
DECLARED_PER_LAYER = (
    [f"spark.{k}" for k in SPARK] +
    ["spark.driver_idle_s", "spark.busy_frac", "jvm.gc_s", "jvm.jit_s",
     "setup.gc_s", "setup.jit_s", "queries.build_s", "queries.exec_s",
     "self.spark_s", "self.modules_s", "self.bench_s",
     "trace.overhead_frac", "trace.cover_frac", "failed_frac"])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it (at
    least the median), as (percentile, value, samples)."""
    n = len(xs)
    pct = max(50, int(100 * (1 - 10 / n))) if n > 10 else 50
    if n < 2:
        return pct, (xs[0] if xs else 0.0), n
    cut = statistics.quantiles(xs, n=100, method="inclusive")
    return pct, cut[pct - 1], n


def _ops(workload, ops):
    if workload == "stream":
        return [o["s"] for o in ops if o["name"].startswith("trigger.")]
    return [o["s"] for o in ops]


def _span_metrics(workload, spans):
    """Per traced pass: self time per layer and the named span sums."""
    by_pass = defaultdict(list)
    for s in spans:
        by_pass[s["pass"]].append(s)
    per_pass = {}
    for p, ss in by_pass.items():
        child = defaultdict(int)
        names = {s["id"]: s["name"] for s in ss}
        for s in ss:
            if s["parent"] >= 0:
                child[s["parent"]] += s["end_ns"] - s["start_ns"]
        m = defaultdict(float, {"queries.build_s": 0.0, "queries.exec_s": 0.0})
        for s in ss:
            d = (s["end_ns"] - s["start_ns"]) / 1e9
            m[f"self.{s['layer']}_s"] += d - child[s["id"]] / 1e9
            name = s["name"]
            if s["parent"] < 0:
                m["spanned_s"] += d
            if name.startswith("build."):
                m["queries.build_s"] += d
            if name.startswith("exec.") and names.get(s["parent"], "").startswith("row."):
                m["queries.exec_s"] += d
            if name.startswith("row."):
                row = name[4:]
                m[f"row.{row}.s"] += d
                m[f"row.{row}.jobs"] += s["jobs"]
                for fam, prefix in FAMILIES.items():
                    if workload == "curation" and row.startswith(prefix):
                        m[f"curation.{fam}_s"] += d
                if row.startswith("x42_"):
                    m["durable.foldserve_s"] += d
            if name.startswith("etl."):
                m[f"{name}_s"] += d
            if name.startswith("persist."):
                m["etl.load_s"] += d
            if name in ("sources.stage_files", "sources.infer"):
                m[f"{name}_s"] += d
            if name in ("stream.pairs", "stream.fold", "stream.compact"):
                m[f"{name}_s"] += d
            if name == "stream.view":
                m["stream.view_s"] += d
            if name.startswith("trigger."):
                m["stream.trigger_jobs"] += s["jobs"]
                m["stream.triggers"] += 1
        m["self.modules_s"] = sum(m[f"self.{x}_s"] for x in
                                  ("sources", "pipeline", "queries", "streaming", "durable"))
        per_pass[p] = m
    return per_pass


def report(workload, result, spans, failures, cores):
    passes = result["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    ops = _ops(workload, result["ops"])
    pct, tail_v, n_ops = tail(ops)

    attempted = len(result["ops"])
    bad = {(e["pass"], e["name"]) for e in result["errors"]}
    bad |= {(f["pass"], f["op"]) for f in failures}
    failed = len(bad)

    def m(value, unit):
        return {"value": value, "unit": unit}

    e2e = {
        "setup_s": m(result["setup"]["s"], "s"),
        "wall_s": m(median([p["wall_s"] for p in untraced]), "s"),
        "cpu_s": m(median([p["cpu_s"] for p in untraced]), "s"),
        "peak_rss_mb": m(result["peak_rss_mb"], "MB"),
        "live_heap_mb": m(median([p["live_heap_mb"] for p in untraced]), "MB"),
    }
    detail = dict(e2e)
    detail["op_p50_s"] = m(median(ops), "s")
    detail["op_tail_s"] = m(tail_v, "s")
    detail["op_tail_pct"] = m(pct, "percentile")
    detail["op_samples"] = m(n_ops, "count")
    detail["passes"] = m(len(passes), "count")
    detail["setup.gc_s"] = m(result["setup"]["gc_s"], "s")
    detail["setup.jit_s"] = m(result["setup"]["jit_s"], "s")
    detail["jvm.gc_s"] = m(median([p["gc_s"] for p in passes]), "s")
    detail["jvm.jit_s"] = m(median([p["jit_s"] for p in passes]), "s")
    detail["failed_frac"] = m(failed / attempted if attempted else 1.0, "frac")

    if traced:
        walls = [p["wall_s"] for p in traced]
        for k, unit in SPARK.items():
            detail[f"spark.{k}"] = m(median([p["spark"][k] for p in traced]), unit)
        run = median([p["spark"]["exec_run_s"] for p in traced])
        wall = median(walls)
        detail["spark.driver_idle_s"] = m(wall - run / cores, "s")
        detail["spark.busy_frac"] = m(run / (wall * cores), "frac")
        detail["trace.overhead_frac"] = m(
            wall / median([p["wall_s"] for p in untraced]) - 1, "frac")
        sm = _span_metrics(workload, spans)
        keys = sorted({k for v in sm.values() for k in v})
        wall_by_pass = {p["pass"]: p["wall_s"] for p in traced}
        for k in keys:
            if k in ("spanned_s", "stream.trigger_jobs", "stream.triggers"):
                continue
            unit = "count" if k.endswith(".jobs") else "s"
            detail[k] = m(median([v.get(k, 0.0) for v in sm.values()]), unit)
        # harness glue between top-level spans is the bench layer's too
        for p, v in sm.items():
            v["self.bench_s"] += wall_by_pass[p] - v["spanned_s"]
        detail["self.bench_s"] = m(median([v["self.bench_s"] for v in sm.values()]), "s")
        detail["trace.cover_frac"] = m(median(
            [v["spanned_s"] / wall_by_pass[p] for p, v in sm.items()]), "frac")
        for layer in LAYERS:
            detail.setdefault(f"self.{layer}_s", m(0.0, "s"))
        if workload == "stream":
            detail["stream.jobs_per_trigger"] = m(median(
                [v["stream.trigger_jobs"] / v["stream.triggers"] for v in sm.values()]),
                "count")
    per_layer = {k: detail[k] for k in DECLARED_PER_LAYER if k in detail}
    return {"end_to_end": e2e, "per_layer": per_layer, "detail": detail,
            "attempted": attempted, "failed": failed}

"""Turns what perfbench.Main saw into the benchmark's metrics and checks.

END_TO_END and PER_LAYER name every metric a run prints; BENCHMARK.json
lists the same names. A metric that a workload does not exercise (a
medallion layer in the catalog workload, say) is printed as 0.
"""
import hashlib
import math
import os
import statistics

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s"}

SPAN_METRICS = ["wall_s", "jobs", "tasks", "task_s", "empty_task_ratio",
                "shuffle_write_mb", "spill_mb", "warn", "error"]
LAYERS = ["ingest.load_all", "curate.run", "consume.date_dim", "consume.dims",
          "consume.fact", "keys.dense", "pipeline.run"]
# the spans MedallionJob.run itself is made of, in its order
PIPELINE_PARTS = ["ingest.load_all", "curate.run", "consume.date_dim",
                  "consume.dims", "consume.fact"]
READS = ["ingest.read_csv", "ingest.read_parquet", "ingest.read_json"]
QUERY_METRICS = ["queries.build_s", "queries.exec_s", "queries.analysis_s",
                 "queries.optimization_s", "queries.planning_s",
                 "spark.jobs_per_query", "spark.tasks_per_query", "spark.task_s",
                 "spark.empty_task_ratio", "spark.shuffle_write_mb",
                 "spark.spill_mb", "queries.warn", "queries.error"]
STREAM_METRICS = ["streaming.batches", "streaming.batch_p50_ms",
                  "streaming.add_batch_ms", "streaming.query_planning_ms",
                  "streaming.wal_commit_ms", "streaming.latest_offset_ms"]
RUN_METRICS = ["jvm.gc_s", "jvm.compile_s", "jvm.live_heap_peak_mb", "scratch.leaked_mb",
               "log.warn", "log.error"]


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "layer_share")):
        return "ratio"
    return "count"


def per_layer_names():
    names = [f"full.{layer}.{m}" for layer in LAYERS for m in SPAN_METRICS]
    names += [f"full.{r}.{m}" for r in READS for m in ("wall_s", "tasks", "task_s")]
    names += [f"incr.{layer}.wall_s" for layer in PIPELINE_PARTS]
    names += [f"sinks.{db}.{m}" for db in ("source", "curated", "consumption")
              for m in ("files", "bytes_mb")]
    names += ["full.pipeline.layer_share", "trace.pass_s", "trace.full_load_s"]
    return names + QUERY_METRICS + STREAM_METRICS + RUN_METRICS


PER_LAYER = {n: unit(n) for n in per_layer_names()}

MB = 1048576.0


def source_digest(root):
    """A digest of the program's and the harness's sources: the checkout
    holds no git metadata, so this stands in for the commit."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "build.sbt", "perfbench/build.sbt"):
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()[:16]


def end_to_end(out, setup_t0):
    """setup_s: process start to the first timed operation. pass_s: one
    pass over the workload's operations, median over passes. op_geomean_s:
    geometric mean of the operations' times over every timed operation,
    the aggregate TPC power metrics use for queries of unlike cost (a
    median of a handful of unlike operations jumps between them)."""
    times = [o["build_s"] + o["exec_s"] for o in out["ops"] if "error" not in o]
    vals = {
        "setup_s": out["first_timed_epoch_ms"] / 1000.0 - setup_t0,
        "pass_s": statistics.median(out["passes_s"]),
        "op_geomean_s": math.exp(statistics.fmean(math.log(t) for t in times)),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def span_values(s):
    tasks = s["tasks"]
    return {
        "wall_s": s["wall_s"], "jobs": s["jobs"], "tasks": tasks, "task_s": s["task_s"],
        "empty_task_ratio": s["empty_tasks"] / tasks if tasks else 0.0,
        "shuffle_write_mb": s["shuffle_write_bytes"] / MB,
        "spill_mb": s["spill_bytes"] / MB, "warn": s["warn"], "error": s["error"],
    }


def per_layer(out, leaked_bytes):
    spans = out.get("spans", {})
    v = dict.fromkeys(PER_LAYER, 0.0)
    for name, s in spans.items():
        kind, _, layer = name.partition(".")
        if not s["calls"]:
            continue
        sv = span_values(s)
        # a span that ran more than once (a timed loop) reports per call
        per_call = {k: x / s["calls"] if k != "empty_task_ratio" else x for k, x in sv.items()}
        for m, x in per_call.items():
            if f"{kind}.{layer}.{m}" in v:
                v[f"{kind}.{layer}.{m}"] = x
    run = spans.get("full.pipeline.run")
    if run:
        parts = sum(spans[f"full.{p}"]["wall_s"] for p in PIPELINE_PARTS if f"full.{p}" in spans)
        v["full.pipeline.layer_share"] = parts / run["wall_s"]
    for k, x in out.get("sinks", {}).items():
        db, _, what = k.partition(".")
        v[f"sinks.{db}.files" if what == "files" else f"sinks.{db}.bytes_mb"] = \
            x if what == "files" else x / MB
    # the timed passes, run with listeners attached: against an untraced
    # run's pass_s (and first load) they give the tracing overhead
    v["trace.pass_s"] = statistics.median(out["passes_s"])
    if "timed.full" in spans:
        v["trace.full_load_s"] = spans["timed.full"]["wall_s"] / spans["timed.full"]["calls"]

    build, exe = spans.get("queries.build"), spans.get("queries.exec")
    if build and exe:
        n = build["calls"]
        both = {k: build[k] + exe[k] for k in build if isinstance(build[k], (int, float))}
        sv = span_values(both)
        v.update({
            "queries.build_s": build["wall_s"] / n, "queries.exec_s": exe["wall_s"] / n,
            "queries.analysis_s": both["analysis_s"] / n,
            "queries.optimization_s": both["optimization_s"] / n,
            "queries.planning_s": both["planning_s"] / n,
            "spark.jobs_per_query": both["jobs"] / n, "spark.tasks_per_query": both["tasks"] / n,
            "spark.task_s": both["task_s"] / n, "spark.empty_task_ratio": sv["empty_task_ratio"],
            "spark.shuffle_write_mb": sv["shuffle_write_mb"] / n,
            "spark.spill_mb": sv["spill_mb"] / n,
            "queries.warn": both["warn"] / n, "queries.error": both["error"] / n,
        })
    batches = [b for s in spans.values() for b in s["batch_ms"]]
    if batches:
        parts = {}
        for s in spans.values():
            for k, x in s["batch_parts_ms"].items():
                parts[k] = parts.get(k, 0) + x
        n = len(batches)
        v.update({
            "streaming.batches": n / len(out["passes_s"]),
            "streaming.batch_p50_ms": statistics.median(batches),
            "streaming.add_batch_ms": parts.get("addBatch", 0) / n,
            "streaming.query_planning_ms": parts.get("queryPlanning", 0) / n,
            "streaming.wal_commit_ms": parts.get("walCommit", 0) / n,
            "streaming.latest_offset_ms": parts.get("latestOffset", 0) / n,
        })
    v["jvm.gc_s"] = out["gc_s"]
    v["jvm.compile_s"] = out["compile_s"]
    v["jvm.live_heap_peak_mb"] = out["live_heap_peak_mb"]
    v["scratch.leaked_mb"] = leaked_bytes / MB
    # per timed pass, plus what the once-per-run layer spans logged, so
    # the counts do not grow with the number of passes a run fits in
    passes = len(out["passes_s"])
    for level in ("warn", "error"):
        v[f"log.{level}"] = sum(s[level] / (passes if name.startswith(("timed.", "queries."))
                                            else 1) for name, s in spans.items())
    return {k: {"value": x, "unit": PER_LAYER[k]} for k, x in v.items()}


def check_medallion(out, m):
    """Problems found holding the load reports and the final warehouse
    (full load, then incremental load) against the manifest and the
    contracts MedallionSpec pins; empty when all hold."""
    problems = []

    def same(what, got, want):
        if got != want:
            problems.append(f"{what}: got {got}, want {want}")
    full, incr = m["full"], m["incr"]
    for i, r in enumerate(out["checks"]["reports"]):
        kind, r = r["kind"], r["report"]
        want = full if kind == "full" else incr
        for k in ("source", "curated", "dims", "date_dim", "fact"):
            same(f"report[{i}].{kind}.{k}", r[k], want[k])
        if kind == "full":
            same(f"report[{i}].full fact == curated", r["fact"], sum(r["curated"].values()))
    t = out["checks"]["tables"]
    for cc, s in full["source"].items():
        # source keys dense from 1, continued by the incremental load
        n = s["loaded"] + incr["source"][cc]["loaded"]
        same(f"source.{cc}.keys", t[f"source.{cc.lower()}_sales_order.keys"], [n, 1, n, n])
        same(f"curated.{cc}", t[f"curated.{cc}"],
             [incr["curated"][cc], incr["curated_amount_cents"][cc]])
    # dims grow only by the incremental drop's new natural keys
    dims = {d: n + incr["dims"][d] for d, n in full["dims"].items()}
    dims["date_dim"] = full["date_dim"] + incr["date_dim"]
    fact = t["fact"]
    same("fact.rows", fact[0], full["fact"] + incr["fact"])
    for i, d in enumerate(["date", "region", "customer", "payment", "product", "promo_code"]):
        n = dims[f"{d}_dim"]
        same(f"{d}_dim.keys", t[f"consumption.{d}_dim.keys"], [n, 1, n, n])
        same(f"{d}_dim orphans", fact[1 + i], 0)
    # FactBuilder's customer join is sound only while names are unique
    same("customer names unique", t["customer_name_keys"], [dims["customer_dim"]])
    return problems

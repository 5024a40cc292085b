"""Per-layer metrics of a traced run, named after the package's modules.

Every metric is reported on every workload; a layer the workload does
not touch reports 0.
"""

from __future__ import annotations

import os

from stats import union_length
from tracing import OPERATOR_MODULES, job_totals, jobs_within, spark_jobs

SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "run_ms": "ms",
    "cpu_ms": "ms", "gc_ms": "ms", "input_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}


def per_layer(spark, tracer, phases, tables) -> dict:
    """``{name: (value, unit)}`` from the tracer's spans, the phase
    intervals the workload recorded, Spark's status store and the stream's
    state tables (None for the catalog)."""
    jobs = spark_jobs(spark)
    out: dict[str, tuple[float, str]] = {}

    def layer(prefix):
        calls, secs = tracer.layer(prefix)
        out[f"{prefix}.calls"] = (float(calls), "count")
        out[f"{prefix}.s"] = (secs, "s")

    def seconds(name, prefix, where=None):
        out[name] = (tracer.layer(prefix, where)[1], "s")

    # sources
    layer("sources.load_table")
    loads = [(s["start"], s["end"]) for s in tracer.closed("sources.load_table")]
    out["sources.load_table.jobs"] = (float(len(jobs_within(jobs, loads))), "count")
    layer("sources.spread")
    out["sources.scoped_cache.calls"] = (
        float(tracer.layer("sources.scoped_cache")[0]), "count")

    # plans: builder time, and what is left after its timed children
    build_jobs = jobs_within(jobs, phases["build"])
    out["plans.build.s"] = (tracer.layer("plans.build")[1], "s")
    out["plans.build.self_s"] = (
        tracer.self_seconds("plans.build", build_jobs), "s")
    out["plans.build.jobs"] = (float(len(build_jobs)), "count")
    out["plans.build.job_s"] = (
        union_length((j["start"], j["end"]) for j in build_jobs), "s")

    for op in OPERATOR_MODULES:
        layer(f"operators.{op}")

    # Spark engine counters per phase
    for phase in ("build", "action"):
        tot = job_totals(jobs_within(jobs, phases[phase]))
        for key, unit in SPARK_UNITS.items():
            out[f"spark.{phase}.{key}"] = (tot[key], unit)
    out["spark.cache.pinned_rdds"] = (float(phases["pinned"]), "count")

    # streaming
    progress = phases.get("progress", [])
    add_batch = sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3
    trig = sum(p["durationMs"]["triggerExecution"] for p in progress) / 1e3
    out["streaming.trigger.count"] = (float(len(progress)), "count")
    out["streaming.trigger.input_rows"] = (
        float(sum(p["numInputRows"] for p in progress)), "rows")
    out["streaming.trigger.jobs"] = (
        float(len(jobs_within(jobs, phases["trigger"]))), "count")
    out["streaming.trigger.add_batch_s"] = (add_batch, "s")
    out["streaming.trigger.overhead_s"] = (trig - add_batch, "s")
    seconds("streaming.dedup_flow.neardup_sink_s",
            "streaming.dedup_flow.neardup_sink")
    seconds("streaming.state.upsert_s", "streaming.state.upsert",
            lambda s: s["name"] == "streaming.state.upsert")
    seconds("streaming.state.upsert_group_s", "streaming.state.upsert_group")
    seconds("streaming.state.read_s", "streaming.state.read")
    rows, nbytes, files, commits = state_size(tables)
    out["streaming.state.rows"] = (float(rows), "rows")
    out["streaming.state.bytes"] = (float(nbytes), "bytes")
    out["streaming.state.files"] = (float(files), "count")
    out["streaming.state.commits"] = (float(commits), "count")
    seconds("streaming.neardup_index.probe_s", "streaming.neardup_index.probe")
    # the sink appends postings and sets through one group commit
    seconds("streaming.neardup_index.append_s", "streaming.state.upsert_group",
            lambda s: s.get("index_append"))
    seconds("streaming.neardup_index.refresh_s",
            "streaming.neardup_index.refresh")
    stats = phases.get("stats", [])
    cands = sum(s.get("n_candidates") or 0 for s in stats)
    found = sum(s.get("n_pairs") or 0 for s in stats)
    out["streaming.neardup_index.candidate_yield"] = (
        found / cands if cands else 0.0, "ratio")
    return out


def state_size(tables) -> tuple[int, int, int, int]:
    """Rows (from parquet footers), bytes and files on disk of every state
    table, and the versions committed across them."""
    if not tables:
        return 0, 0, 0, 0
    idx = tables["index"]
    rows = nbytes = files = commits = 0
    for t in (tables["corpus"], tables["pairs"], idx.postings, idx.sets,
              idx.order, idx.seen):
        if t.version < 0:
            continue
        commits += t.version + 1
        rows += t.footer_rows()
        for dirpath, _, names in os.walk(t.path):
            files += len(names)
            nbytes += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return rows, nbytes, files, commits

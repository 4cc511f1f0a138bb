"""Per-layer metrics of a traced run, named by module path.

Every traced run prints every metric in ``NAMES``; a layer the workload
does not exercise reads 0 (the predicted "flat" case). Times are means
per timed operation of the workload (statement, write or stage) unless
the name says otherwise.
"""

from __future__ import annotations

import json
import os
import statistics

import spans as S

# batch stage -> layer metric prefix
STAGE_LAYER = {
    "heuristic_filter": "pipeline.text.heuristic_filter",
    "exact_dedup": "pipeline.dedup.exact_dedup",
    "minhash_neardup_pairs": "pipeline.dedup.minhash_neardup_pairs",
    "semantic_dedup": "pipeline.similarity.semantic_dedup",
    "pagerank": "operators.analytics.pagerank",
    "k_truss": "operators.analytics.k_truss",
    "strongly_connected_components": "operators.analytics.strongly_connected_components",
    "windowed_event_counts": "streaming.ingest.windowed_event_counts",
    "assign_sessions": "operators.temporal.assign_sessions",
}
ANALYTICS = [v for v in STAGE_LAYER.values() if v.startswith("operators.analytics.")]
PATHS = ["vle_expand", "bfs_shortest", "dijkstra_paths"]
EXEC = ["jobs", "tasks", "run_s", "cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "driver_gap_s", "storage_mem_bytes"]

# (name, unit)
NAMES = (
    [("session.get_spark_s", "s"), ("loader.build_tpch_graph_s", "s"),
     ("graph.collect_stats_s", "s"), ("graph.collect_stats_jobs", "count"),
     ("setup.warmup_s", "s"),
     ("cypher.parser.parse_s", "s"), ("cypher.compiler.compile_s", "s"),
     ("cypher.construct_s", "s"), ("cypher.construct_jobs", "count"),
     ("cypher.rows_scanned_per_row_out", "ratio"), ("sql.construct_s", "s"),
     ("cypher.writes.compile_s", "s"), ("cypher.writes.commit_s", "s"),
     ("cypher.writes.commit_jobs", "count"),
     ("cypher.writes.rows_rewritten_per_row_changed", "ratio"),
     ("cypher.writes.read_back_s", "s")]
    + [(f"operators.paths.{p}_s", "s") for p in PATHS]
    + [("operators.paths.jobs_per_call", "count")]
    + [(f"{a}_s", "s") for a in ANALYTICS] + [(f"{a}_jobs", "count") for a in ANALYTICS]
    + [(f"{v}_s", "s") for k, v in STAGE_LAYER.items()
       if not v.startswith("operators.analytics.")]
    + [("pipeline.dedup.lsh_verify_yield", "ratio"),
       ("streaming.ingest.add_batch_ms", "ms")]
    + [(f"exec.{e}", "bytes" if e.endswith("bytes") else "s" if e.endswith("_s") else "count")
       for e in EXEC]
    + [("exec.peak_rss_mb", "MB"), ("trace.p50_s", "s"), ("trace.mean_s", "s")]
)


def _outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` with no ancestor of the same name."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _dur(s: dict) -> float:
    return (s["end"] or s["start"]) - s["start"]


def _jobs(s: dict) -> int:
    return (s["job1"] or s["job0"]) - s["job0"]


def per_layer(ctx, run, get_spark_s: float) -> dict:
    tr = ctx.tracer
    spans = tr.spans
    selfs = tr.self_times()
    timed = {op.rid for op in run.ops}
    # request ids by statement class: "read-", "readback-", "write-", "stage-"
    templates = {op.rid for op in run.ops if op.rid.startswith("read-")}
    reads = templates | {op.rid for op in run.ops if op.rid.startswith("readback-")}
    writes = {op.rid for op in run.ops if op.rid.startswith("write-")}
    sql_ops = {op.rid for op in run.ops if op.kind in ("tpch_q5", "cypher_in_sql")}
    n_ops = max(len(run.ops), 1)
    m = {name: 0.0 for name, _ in NAMES}

    def in_req(name: str, reqs: set) -> list[dict]:
        return [s for s in _outermost(spans, name) if s["request"] in reqs]

    m["session.get_spark_s"] = get_spark_s
    builds = _outermost(spans, "loader.build_tpch_graph")
    if builds:
        m["loader.build_tpch_graph_s"] = statistics.fmean(_dur(s) for s in builds)
        stats = [s for s in spans if s["name"] == "graph.collect_stats"]
        m["graph.collect_stats_s"] = sum(_dur(s) for s in stats) / len(builds)
        m["graph.collect_stats_jobs"] = sum(_jobs(s) for s in stats) / len(builds)
    m["setup.warmup_s"] = run.setup.get("warmup_s", 0.0)

    if reads:
        n = len(reads)
        m["cypher.parser.parse_s"] = sum(_dur(s) for s in in_req("cypher.parser.parse", reads)) / n
        m["cypher.compiler.compile_s"] = sum(
            selfs[s["id"]] for s in spans
            if s["name"] == "cypher.compiler.compile" and s["request"] in reads) / n
        con = in_req("cypher.construct", reads)
        m["cypher.construct_s"] = sum(_dur(s) for s in con) / n
        m["cypher.construct_jobs"] = sum(_jobs(s) for s in con) / n
        if sql_ops:
            m["sql.construct_s"] = sum(
                _dur(s) for s in in_req("sql.construct", sql_ops)) / len(sql_ops)
        out_rows = sum(getattr(op, "rows_out", 0) for op in run.ops if op.rid in templates)
        job_ids = set()
        for s in spans:
            if s["name"] == "statement" and s["request"] in templates:
                job_ids.update(range(s["job0"], s["job1"] or s["job0"]))
        m["cypher.rows_scanned_per_row_out"] = S.scan_rows(ctx.spark, job_ids) / max(out_rows, 1)

    if writes:
        n = len(writes)
        ex = in_req("cypher.writes.execute", writes)
        comp = in_req("cypher.compiler.compile", writes)
        comp_by_parent: dict[int, list[dict]] = {}
        by_id = {s["id"]: s for s in spans}
        for c in comp:
            p = c["parent"]
            while p is not None and by_id[p]["name"] != "cypher.writes.execute":
                p = by_id[p]["parent"]
            if p is not None:
                comp_by_parent.setdefault(p, []).append(c)
        m["cypher.writes.compile_s"] = sum(_dur(c) for c in comp) / n
        m["cypher.writes.commit_s"] = sum(
            _dur(e) - sum(_dur(c) for c in comp_by_parent.get(e["id"], [])) for e in ex) / n
        m["cypher.writes.commit_jobs"] = sum(
            _jobs(e) - sum(_jobs(c) for c in comp_by_parent.get(e["id"], [])) for e in ex) / n
        m["cypher.writes.rows_rewritten_per_row_changed"] = run.layers.get(
            "cypher.writes.rows_rewritten_per_row_changed", 0.0)
        rb = [op.latency_s for op in run.ops if op.rid.startswith("readback-")]
        m["cypher.writes.read_back_s"] = statistics.fmean(rb) if rb else 0.0

    path_calls = []
    for p in PATHS:
        calls = in_req(f"operators.paths.{p}", timed)
        path_calls += calls
        if calls:
            m[f"operators.paths.{p}_s"] = statistics.fmean(_dur(s) for s in calls)
    if path_calls:
        m["operators.paths.jobs_per_call"] = statistics.fmean(_jobs(s) for s in path_calls)

    prof = S.exec_profile(ctx.spark, [op.rid for op in run.ops])
    for op in run.ops:
        layer = STAGE_LAYER.get(op.kind)
        if layer is None:
            continue
        m[f"{layer}_s"] = op.latency_s
        if layer in ANALYTICS:
            m[f"{layer}_jobs"] = prof[op.rid]["jobs"]
    if "pipeline.dedup.lsh_verify_yield" in run.layers:
        m["pipeline.dedup.lsh_verify_yield"] = run.layers["pipeline.dedup.lsh_verify_yield"]
    adds = [x for x in run.notes.get("stream_add_batch_ms", []) if x is not None]
    if adds:
        m["streaming.ingest.add_batch_ms"] = statistics.fmean(adds)

    for e in ("jobs", "tasks", "run_s", "cpu_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{e}"] = sum(p[e] for p in prof.values()) / n_ops
    m["exec.driver_gap_s"] = sum(
        max(op.latency_s - prof[op.rid]["job_wall_s"], 0.0) for op in run.ops) / n_ops
    m["exec.storage_mem_bytes"] = S.storage_mem_bytes(ctx.spark)

    lat = [op.latency_s for op in run.ops if op.ok]
    if lat:
        m["trace.p50_s"] = statistics.median(lat)
        m["trace.mean_s"] = statistics.fmean(lat)
    units = dict(NAMES)
    return {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}


def overhead(work: str, workload: str, traced: dict) -> dict | None:
    """Traced minus untraced, as a share of the untraced median, from
    the untraced runs of this workload kept in the checkout."""
    path = os.path.join(work, "results", f"{workload}.jsonl")
    try:
        with open(path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except OSError:
        return None
    if not rows:
        return None
    out = {"untraced_runs": len(rows)}
    for k in ("p50_s", "mean_s"):
        base = statistics.median(r[k] for r in rows)
        out[k] = (traced[k]["value"] - base) / base if base else None
    return out

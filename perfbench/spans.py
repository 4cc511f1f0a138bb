"""Spans recorded around calls into the engine's modules, plus the
per-layer readout of Spark's in-process status stores.

Tracing is installed only for a traced run (``--trace 1``): the
wrappers replace public entry points of the package at import time,
from the benchmark's side; the package source is not edited. Each span
holds its name, start, end, parent span, the request id shared by one
statement or stage, and the Spark job-id range it covered. Spans stay
in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time

# (module, attribute path, span name). Functions bound by name into
# another module are wrapped there too (see ALIASES), so calls made
# through either name record a span.
ENTRY_POINTS = [
    ("agensgraph_spark.loader", "build_tpch_graph", "loader.build_tpch_graph"),
    ("agensgraph_spark.graph", "Graph.collect_stats", "graph.collect_stats"),
    ("agensgraph_spark.graph", "Graph.collect_edge_stats", "graph.collect_stats"),
    ("agensgraph_spark.cypher.parser", "parse_cypher", "cypher.parser.parse"),
    ("agensgraph_spark.cypher.compiler", "CypherEngine.cypher", "cypher.construct"),
    ("agensgraph_spark.cypher.compiler", "CypherEngine._execute_write", "cypher.writes.execute"),
    ("agensgraph_spark.cypher.compiler", "QueryCompiler.compile", "cypher.compiler.compile"),
    ("agensgraph_spark.operators.paths", "vle_expand", "operators.paths.vle_expand"),
    ("agensgraph_spark.operators.paths", "bfs_shortest", "operators.paths.bfs_shortest"),
    ("agensgraph_spark.operators.paths", "dijkstra_paths", "operators.paths.dijkstra_paths"),
    ("agensgraph_spark.operators.analytics", "pagerank", "operators.analytics.pagerank"),
    ("agensgraph_spark.operators.analytics", "k_truss", "operators.analytics.k_truss"),
    ("agensgraph_spark.operators.analytics", "strongly_connected_components",
     "operators.analytics.strongly_connected_components"),
    ("agensgraph_spark.operators.temporal", "assign_sessions", "operators.temporal.assign_sessions"),
    ("agensgraph_spark.pipeline.text", "heuristic_filter", "pipeline.text.heuristic_filter"),
    ("agensgraph_spark.pipeline.dedup", "exact_dedup", "pipeline.dedup.exact_dedup"),
    ("agensgraph_spark.pipeline.dedup", "minhash_neardup_pairs", "pipeline.dedup.minhash_neardup_pairs"),
    ("agensgraph_spark.pipeline.similarity", "semantic_dedup", "pipeline.similarity.semantic_dedup"),
    ("agensgraph_spark.streaming.ingest", "windowed_event_counts", "streaming.ingest.windowed_event_counts"),
]
ALIASES = {
    "agensgraph_spark.cypher.parser.parse_cypher": [
        ("agensgraph_spark.cypher.compiler", "parse_cypher"),
        ("agensgraph_spark.cypher", "parse_cypher")],
    "agensgraph_spark.streaming.ingest.windowed_event_counts": [
        ("agensgraph_spark.streaming", "windowed_event_counts")],
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: str | None = None

    def next_job_id(self) -> int:
        return self.sc._jsc.sc().dagScheduler().nextJobId()

    # ------------------------------------------------------------ spans
    def begin(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "request": self.request,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": time.perf_counter(), "end": None,
                           "job0": self.next_job_id(), "job1": None})
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        span["job1"] = self.next_job_id()
        while self._stack and self._stack[-1] != sid:
            self._stack.pop()
        if self._stack:
            self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield
        finally:
            self.end(sid)

    def set_request(self, rid: str | None) -> None:
        """Start a request: later spans carry ``rid`` and Spark jobs
        are tagged with it as their job group."""
        self.request = rid
        if rid is not None:
            self.sc.setJobGroup(rid, rid, False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    # --------------------------------------------------------- wrapping
    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def install(self) -> None:
        for mod_name, attr, name in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            owner = mod
            parts = attr.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            orig = getattr(owner, parts[-1])
            wrapped = self._wrap(orig, name)
            setattr(owner, parts[-1], wrapped)
            for alias_mod, alias_attr in ALIASES.get(f"{mod_name}.{attr}", []):
                amod = importlib.import_module(alias_mod)
                if getattr(amod, alias_attr, None) is orig:
                    setattr(amod, alias_attr, wrapped)

    # ---------------------------------------------------------- readout
    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            dur = (s["end"] or s["start"]) - s["start"]
            covered, last = 0.0, None
            for a, b in sorted(kids.get(s["id"], [])):
                if last is not None and a < last:
                    a = last
                if b > a:
                    covered += b - a
                    last = b
            out.append(max(dur - covered, 0.0))
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        rows = [dict(s, self_s=st, dur_s=(s["end"] or s["start"]) - s["start"])
                for s, st in zip(self.spans, selfs)]
        with open(path, "w") as f:
            json.dump({"spans": rows, **(extra or {})}, f)


def _opt(o):
    return o.get() if o.isDefined() else None


def exec_profile(spark, groups: list[str]) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run and CPU seconds, shuffle
    read/write bytes, spill bytes and the wall time covered by jobs,
    read from the SparkContext status store after the timed region."""
    store = spark.sparkContext._jsc.sc().statusStore()
    want = set(groups)
    out = {g: {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "intervals": []} for g in groups}
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        grp = _opt(job.jobGroup())
        if grp not in want:
            continue
        acc = out[grp]
        acc["jobs"] += 1
        sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
        if sub is not None and done is not None:
            acc["intervals"].append((sub.getTime() / 1000.0, done.getTime() / 1000.0))
        ids = job.stageIds()
        it = ids.iterator()
        while it.hasNext():
            sid = it.next()
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage skipped or evicted: no attempt recorded
                continue
            acc["tasks"] += st.numCompleteTasks()
            acc["run_s"] += st.executorRunTime() / 1000.0
            acc["cpu_s"] += st.executorCpuTime() / 1e9
            acc["shuffle_read_bytes"] += st.shuffleReadBytes()
            acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
            acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    for acc in out.values():
        covered, last = 0.0, None
        for a, b in sorted(acc.pop("intervals")):
            if last is not None and a < last:
                a = last
            if b > a:
                covered += b - a
                last = b
        acc["job_wall_s"] = covered
    return out


def scan_rows(spark, job_ids: set[int]) -> int:
    """Rows output by the scan operators of every SQL execution that
    ran one of ``job_ids`` (SQL status store, per-operator metrics)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    total = 0
    for i in range(execs.size()):
        ex = execs.apply(i)
        jobs = ex.jobs().keySet().iterator()
        hit = False
        while jobs.hasNext():
            if int(jobs.next()) in job_ids:
                hit = True
                break
        if not hit:
            continue
        values = {}
        it = store.executionMetrics(ex.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            values[int(kv._1())] = str(kv._2())
        nodes = store.planGraph(ex.executionId()).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if not node.name().startswith("Scan"):
                continue
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                v = values.get(int(m.accumulatorId()))
                if m.name() == "number of output rows" and v:
                    total += int(v.replace(",", "").split()[0])
    return total


def storage_mem_bytes(spark) -> int:
    """Storage memory in use across executors (cached and checkpointed
    blocks)."""
    st = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = st.valuesIterator()
    used = 0
    while it.hasNext():
        pair = it.next()
        used += int(pair._1()) - int(pair._2())
    return used

"""Write-clause tests mirroring the reference corpus:
cypher_dml.sql CREATE/DELETE (:545-800), SET/REMOVE/+= (:803-947),
MERGE (:968-1117); cypher_eager.sql read-after-write semantics."""

import pytest
from pyspark.sql import functions as F

from agensgraph_spark.catalog import GraphCatalog
from agensgraph_spark.cypher.compiler import CypherEngine
from agensgraph_spark.graph import Graph
from agensgraph_spark.graphid import graphid_labid


@pytest.fixture
def eng(spark):
    """Small people/knows graph built through the write path itself."""
    e = CypherEngine(spark, Graph(GraphCatalog("t")))
    e.cypher("CREATE (:person {name: 'ana', age: 30}), (:person {name: 'bob', age: 25}), "
             "(:person {name: 'cal', age: 41})")
    e.cypher("MATCH (a:person {name: 'ana'}), (b:person {name: 'bob'}) "
             "CREATE (a)-[:knows {since: 2020}]->(b)")
    e.cypher("MATCH (b:person {name: 'bob'}), (c:person {name: 'cal'}) "
             "CREATE (b)-[:knows {since: 2021}]->(c)")
    return e


def rows(df, *cols):
    out = [tuple(r) for r in df.select(*cols).collect()]
    return sorted(out)


def test_create_and_read_back(eng):
    got = rows(eng.cypher("MATCH (p:person) RETURN p.name AS n, p.age AS a"), "n", "a")
    assert got == [("ana", 30), ("bob", 25), ("cal", 41)]
    stats = eng.last_write_stats
    assert stats["insertededges"] == 1


def test_create_edge_traversal(eng):
    got = rows(eng.cypher(
        "MATCH (a:person)-[k:knows]->(b:person) RETURN a.name AS an, b.name AS bn, k.since AS s"),
        "an", "bn", "s")
    assert got == [("ana", "bob", 2020), ("bob", "cal", 2021)]


def test_create_per_input_row(eng):
    # CREATE instantiates once per source row (ExecCreateGraph semantics)
    eng.cypher("MATCH (p:person) CREATE (:shadow {of: p.name})")
    got = rows(eng.cypher("MATCH (s:shadow) RETURN s.of AS o"), "o")
    assert got == [("ana",), ("bob",), ("cal",)]


def test_create_path_and_ids_distinct(eng):
    df = eng.cypher("CREATE p = (:a1 {x: 1})-[:r1]->(:a1 {x: 2}) RETURN length(p) AS l")
    assert [r["l"] for r in df.collect()] == [1]
    ids = [r["i"] for r in eng.cypher("MATCH (n:a1) RETURN n.id AS i").collect()]
    assert len(set(ids)) == 2


def test_set_property(eng):
    eng.cypher("MATCH (p:person {name: 'ana'}) SET p.age = 31")
    got = rows(eng.cypher("MATCH (p:person {name: 'ana'}) RETURN p.age AS a"), "a")
    assert got == [(31,)]
    assert eng.last_write_stats["updatedproperties"] >= 1


def test_set_new_property_extends_schema(eng):
    eng.cypher("MATCH (p:person {name: 'bob'}) SET p.city = 'nyc'")
    got = rows(eng.cypher("MATCH (p:person) RETURN p.name AS n, p.city AS c"), "n", "c")
    assert got == [("ana", None), ("bob", "nyc"), ("cal", None)]


def test_set_returns_updated_value_same_statement(eng):
    # reflectModifiedProp: RETURN after SET sees the new value
    df = eng.cypher("MATCH (p:person {name: 'cal'}) SET p.age = p.age + 1 RETURN p.age AS a")
    assert [r["a"] for r in df.collect()] == [42]


def test_set_plus_equals_merges(eng):
    eng.cypher("MATCH (p:person {name: 'ana'}) SET p += {age: 33, tag: 'x'}")
    got = rows(eng.cypher("MATCH (p:person {name: 'ana'}) RETURN p.age AS a, p.tag AS t, p.name AS n"),
               "a", "t", "n")
    assert got == [(33, "x", "ana")]


def test_set_overwrite_clears_others(eng):
    eng.cypher("MATCH (p:person {name: 'bob'}) SET p = {name: 'bob', age: 26}")
    got = rows(eng.cypher("MATCH (p:person {name: 'bob'}) RETURN p.age AS a"), "a")
    assert got == [(26,)]


def test_remove_property(eng):
    eng.cypher("MATCH (p:person {name: 'cal'}) REMOVE p.age")
    got = rows(eng.cypher("MATCH (p:person) WHERE p.age IS NULL RETURN p.name AS n"), "n")
    assert got == [("cal",)]


def test_delete_vertex_with_edges_errors(eng):
    with pytest.raises(ValueError, match="DETACH"):
        eng.cypher("MATCH (p:person {name: 'bob'}) DELETE p")


def test_detach_delete_removes_incident_edges(eng):
    eng.cypher("MATCH (p:person {name: 'bob'}) DETACH DELETE p")
    assert eng.cypher("MATCH (p:person) RETURN p").count() == 2
    assert eng.cypher("MATCH ()-[k:knows]->() RETURN k").count() == 0
    assert eng.last_write_stats == {
        "insertedvertices": 0, "insertededges": 0,
        "deletedvertices": 1, "deletededges": 2, "updatedproperties": 0}


def test_delete_edge_only(eng):
    eng.cypher("MATCH (:person {name: 'ana'})-[k:knows]->() DELETE k")
    assert eng.cypher("MATCH ()-[k:knows]->() RETURN k").count() == 1
    assert eng.cypher("MATCH (p:person) RETURN p").count() == 3


def test_merge_matches_existing(eng):
    before = eng.cypher("MATCH (p:person) RETURN p").count()
    eng.cypher("MERGE (p:person {name: 'ana'})")
    assert eng.cypher("MATCH (p:person) RETURN p").count() == before


def test_merge_creates_missing(eng):
    eng.cypher("MERGE (p:person {name: 'dee'})")
    got = rows(eng.cypher("MATCH (p:person) RETURN p.name AS n"), "n")
    assert got == [("ana",), ("bob",), ("cal",), ("dee",)]


def test_merge_on_create_on_match(eng):
    eng.cypher("MERGE (p:person {name: 'eve'}) ON CREATE SET p.age = 1 ON MATCH SET p.age = 99")
    assert rows(eng.cypher("MATCH (p:person {name: 'eve'}) RETURN p.age AS a"), "a") == [(1,)]
    eng.cypher("MERGE (p:person {name: 'eve'}) ON CREATE SET p.age = 1 ON MATCH SET p.age = 99")
    assert rows(eng.cypher("MATCH (p:person {name: 'eve'}) RETURN p.age AS a"), "a") == [(99,)]


def test_merge_edge_between_bound(eng):
    q = ("MATCH (a:person {name: 'ana'}), (c:person {name: 'cal'}) "
         "MERGE (a)-[:knows {since: 2022}]->(c)")
    eng.cypher(q)
    assert eng.cypher("MATCH ()-[k:knows]->() RETURN k").count() == 3
    eng.cypher(q)  # second run: matched, no new edge
    assert eng.cypher("MATCH ()-[k:knows]->() RETURN k").count() == 3


def test_merge_dedups_parallel_duplicates(eng):
    # two input rows demanding the same absent node → exactly one create
    eng.cypher("UNWIND [1, 2] AS i MERGE (p:person {name: 'fay'})")
    assert eng.cypher("MATCH (p:person {name: 'fay'}) RETURN p").count() == 1


def test_merge_preserves_input_cardinality(eng):
    # per-row match-or-create (execCypherMerge.c:35): duplicate input
    # rows each produce an output row bound to the SAME created node
    df = eng.cypher("UNWIND [1, 1, 2] AS x MERGE (n:tcard {k: x}) "
                    "RETURN x, n.k AS nk")
    got = rows(df, "x", "nk")
    assert got == [(1, 1), (1, 1), (2, 2)]
    # exactly one node per distinct key was created
    assert eng.cypher("MATCH (n:tcard) RETURN n").count() == 2
    # keyless MERGE: one node, still one output row per input row
    df2 = eng.cypher("UNWIND [1, 2, 3] AS x MERGE (m:tcard2) RETURN x, m.id AS mid")
    assert df2.count() == 3
    assert df2.select("mid").distinct().count() == 1
    assert eng.cypher("MATCH (m:tcard2) RETURN m").count() == 1


def test_locid_allocation_dense(eng):
    # dense per-batch locids: repeated multi-partition CREATEs advance
    # the locid by exactly the row count, never ~2^33 per partition
    for _ in range(3):
        eng.cypher("UNWIND range(1, 40) AS i CREATE (:densev {v: i})")
    ids = [r["i"] for r in eng.cypher(
        "MATCH (d:densev) RETURN d.id AS i").collect()]
    assert len(ids) == 120
    locids = sorted(i & ((1 << 48) - 1) for i in ids)
    assert locids == list(range(locids[0], locids[0] + 120))


def test_merge_prop_from_pipeline_var(eng):
    # MERGE pattern props may reference the incoming row (per-row
    # match-or-create: execCypherMerge.c ExecMergeGraph); 'ana' exists,
    # 'gil'/'hal' are created once each, duplicate 'gil' collapses
    eng.cypher("UNWIND ['ana', 'gil', 'hal', 'gil'] AS nm "
               "MERGE (p:person {name: nm}) "
               "ON CREATE SET p.fresh = true ON MATCH SET p.seen = true")
    got = rows(eng.cypher("MATCH (p:person) RETURN p.name AS n, p.fresh AS f, p.seen AS s"),
               "n", "f", "s")
    assert ("ana", None, True) in got
    assert ("gil", True, None) in got and ("hal", True, None) in got
    assert len([r for r in got if r[0] == "gil"]) == 1
    assert ("bob", None, None) in got


def test_eager_create_then_match_sees_writes(eng):
    # cypher_eager.sql: a later clause reads an earlier clause's writes
    df = eng.cypher("CREATE (:flag {v: 7}) WITH 1 AS one MATCH (f:flag) RETURN f.v AS v")
    assert [r["v"] for r in df.collect()] == [7]


def test_unbound_labels_isolated_per_label(eng):
    eng.cypher("CREATE (:animal {name: 'rex'})")
    assert eng.cypher("MATCH (p:person) RETURN p").count() == 3
    got = rows(eng.cypher("MATCH (a:animal) RETURN a.name AS n"), "n")
    assert got == [("rex",)]
    # labid partitioning: ids of different labels never collide
    pid = [r["i"] for r in eng.cypher("MATCH (p:person) RETURN p.id AS i").collect()]
    aid = [r["i"] for r in eng.cypher("MATCH (a:animal) RETURN a.id AS i").collect()]
    assert {graphid_labid(i) for i in pid}.isdisjoint({graphid_labid(i) for i in aid})


def test_write_stats_dataframe(eng):
    df = eng.cypher("CREATE (:person {name: 'gus'})")
    row = df.collect()[0]
    assert row["insertedvertices"] == 1 and row["insertededges"] == 0


# --- multi-write-clause statements (cypher_eager.sql combinations) ---

def test_create_then_set_one_statement(eng):
    eng.cypher("CREATE (n:combo {v: 1}) SET n.v = n.v + 10")
    got = rows(eng.cypher("MATCH (n:combo) RETURN n.v AS v"), "v")
    assert got == [(11,)]


def test_match_create_set_returns(eng):
    df = eng.cypher(
        "MATCH (p:person) CREATE (s:copycat {of: p.name}) "
        "SET s.stamp = 7 RETURN s.of AS o, s.stamp AS st")
    got = sorted((r["o"], r["st"]) for r in df.collect())
    assert got == [("ana", 7), ("bob", 7), ("cal", 7)]


def test_merge_then_create_edge(eng):
    eng.cypher(
        "MERGE (hub:hub {name: 'H'}) "
        "WITH hub MATCH (p:person {name: 'ana'}) CREATE (p)-[:linked]->(hub)")
    assert eng.cypher("MATCH (:person)-[:linked]->(:hub) RETURN 1").count() == 1
    # idempotent MERGE re-run adds only the edge
    eng.cypher(
        "MERGE (hub:hub {name: 'H'}) "
        "WITH hub MATCH (p:person {name: 'bob'}) CREATE (p)-[:linked]->(hub)")
    assert eng.cypher("MATCH (h:hub) RETURN h").count() == 1
    assert eng.cypher("MATCH (:person)-[:linked]->(:hub) RETURN 1").count() == 2


def test_delete_then_create_same_statement(eng):
    eng.cypher("CREATE (:tmp1 {v: 1}), (:tmp1 {v: 2})")
    eng.cypher("MATCH (t:tmp1) DELETE t CREATE (:tmp2 {v: t.v * 100})")
    assert eng.cypher("MATCH (t:tmp1) RETURN t").count() == 0
    got = rows(eng.cypher("MATCH (t:tmp2) RETURN t.v AS v"), "v")
    assert got == [(100,), (200,)]


def test_set_whole_map_from_properties(spark):
    """SET n = properties(m) replaces the whole map (reference:
    execCypherSet.c whole-jsonb assignment; cypher_eager.sql uses the
    same form in CREATE); += merges, preserving unmentioned keys."""
    from agensgraph_spark.cypher.compiler import CypherEngine
    eng = CypherEngine(spark)
    eng.cypher("CREATE GRAPH setmap")
    eng.cypher("UNWIND [1, 2] AS i CREATE (:sa {x: i, y: i * 10})")
    eng.cypher("UNWIND [1, 2] AS i CREATE (:sb {x: i * 100, q: i})")
    eng.cypher("MATCH (m:sa {x: 1}), (n:sb {x: 100}) SET n = properties(m)")
    got = [tuple(r) for r in eng.cypher(
        "MATCH (n:sb) RETURN n.x AS x, n.y AS y, n.q AS q ORDER BY x").collect()]
    assert got == [(1, 10, None), (200, None, 2)]   # q erased by replace
    eng.cypher("MATCH (m:sa {x: 2}), (n:sb {x: 200}) SET n += properties(m)")
    got2 = [tuple(r) for r in eng.cypher(
        "MATCH (n:sb) RETURN n.x AS x, n.y AS y, n.q AS q ORDER BY x").collect()]
    assert got2 == [(1, 10, None), (2, 20, 2)]      # += keeps q


def test_delete_stat_jobs_one_per_victim_kind(spark, monkeypatch):
    """Perf contract (r5 task: cut write-stat job burn): DELETE stats
    come from ONE labid-groupBy job per victim frame (fast path) — not
    two frame counts per touched label — and the repeated-delete exact
    path costs at most two. Stats stay exact either way."""
    import itertools
    from agensgraph_spark.cypher import writes as W

    sc = spark.sparkContext
    seq = itertools.count()
    jobs_per_call: list[int] = []
    orig = W.WriteMixin._victim_label_counts

    def counting(self, victims, kind):
        group = f"statprobe-{next(seq)}"
        sc.setJobGroup(group, "stat probe")
        try:
            out = orig(self, victims, kind)
        finally:
            sc.setJobGroup(None, None)
        jobs_per_call.append(
            len(sc.statusTracker().getJobIdsForGroup(group)))
        return out

    monkeypatch.setattr(W.WriteMixin, "_victim_label_counts", counting)
    eng = CypherEngine(spark, Graph(GraphCatalog("jd")))
    for i in range(3):
        eng.cypher(f"UNWIND [1,2,3] AS k CREATE (:dl{i} {{k: k}})")
    # one statement touching all 3 labels
    eng.cypher("MATCH (v0:dl0) OPTIONAL MATCH (v1:dl1) OPTIONAL MATCH (v2:dl2) "
               "DELETE v0, v1, v2")
    assert eng.last_write_stats["deletedvertices"] == 9
    # fast path: ONE labid groupBy per victim frame, regardless of how
    # many labels the statement touches (AQE runs an aggregate as up
    # to 2 jobs: shuffle-map + result)
    assert len(jobs_per_call) == 1 and jobs_per_call[0] <= 2, jobs_per_call
    # repeated delete in ONE statement: exact path, <= 2 jobs per call
    jobs_per_call.clear()
    eng.cypher("UNWIND [1,2,3] AS k CREATE (:dl0 {k: k})")
    eng.cypher("MATCH (a:dl0) DELETE a DELETE a")
    assert eng.last_write_stats["deletedvertices"] == 3
    # exact path adds one union-scan semi-join aggregate (<= 2 more
    # AQE jobs); still one helper call per victim frame
    assert len(jobs_per_call) == 2 and all(j <= 4 for j in jobs_per_call), jobs_per_call


def _locids(eng, label):
    return sorted(r["i"] & ((1 << 48) - 1) for r in eng.cypher(
        f"MATCH (n:{label}) RETURN n.id AS i").collect())


def test_locids_consecutive_within_statement(eng):
    # two elements of one label in one statement take consecutive
    # locids from the label's sequence (no gap from a re-scan after
    # the first append)
    eng.cypher("CREATE (:lgap {v: 1}), (:lgap {v: 2})")
    assert _locids(eng, "lgap") == [1, 2]
    eng.cypher("CREATE (:lgap {v: 3})-[:lgap_e]->(:lgap {v: 4}), (:lgap {v: 5})")
    assert _locids(eng, "lgap") == [1, 2, 3, 4, 5]


def test_create_nondeterministic_value_is_committed(eng):
    # the created rows stay lazy until commit, so a nondeterministic
    # property value must be pinned once: what RETURN shows is what
    # the graph holds (with and without a reading clause)
    for stmt in ("CREATE (n:rnd {r: rand()}) RETURN n.id AS i, n.r AS r",
                 "UNWIND range(1, 4) AS k CREATE (n:rnd {r: rand()}) "
                 "RETURN n.id AS i, n.r AS r"):
        got = sorted(tuple(r) for r in eng.cypher(stmt).collect())
        held = {tuple(r) for r in eng.cypher(
            "MATCH (n:rnd) RETURN n.id AS i, n.r AS r").collect()}
        assert got and set(got) <= held


def test_deleted_graphid_never_reused(spark, eng):
    """The reference's ag_label_seq never hands out an id twice: a
    CREATE after deleting the newest element gets a fresh graphid, both
    when earlier writes seeded the sequence and when the label's frame
    was installed from outside the write path."""
    from agensgraph_spark.graphid import make_graphid
    eng.cypher("CREATE (:reuse {v: 1}), (:reuse {v: 2}), (:reuse {v: 3})")
    gone = eng.cypher("MATCH (n:reuse {v: 3}) RETURN n.id AS i").collect()[0]["i"]
    eng.cypher("MATCH (n:reuse {v: 3}) DELETE n")
    eng.cypher("CREATE (:reuse {v: 4})")
    new = eng.cypher("MATCH (n:reuse {v: 4}) RETURN n.id AS i").collect()[0]["i"]
    assert new != gone and new & ((1 << 48) - 1) == 4

    g = Graph(GraphCatalog("seq"))
    labid = g.catalog.create_vlabel("ext", props={"v": "bigint"}).labid
    g.set_label_df("ext", spark.createDataFrame(
        [(make_graphid(labid, i), i) for i in (1, 2, 3)], "id long, v long"))
    e2 = CypherEngine(spark, g)
    e2.cypher("MATCH (n:ext {v: 3}) DELETE n")
    e2.cypher("CREATE (:ext {v: 4})")
    assert _locids(e2, "ext") == [1, 2, 4]


def test_delete_only_statement_skips_constraint_sweep(spark, monkeypatch):
    """A delete cannot break a unique or check constraint: a delete-only
    statement on a constrained label starts no constraint job, while an
    insert into it still runs the sweep."""
    from agensgraph_spark.cypher import ddl
    calls: list[str] = []
    orig = ddl.validate_constraints

    def counting(*args, **kwargs):
        calls.append(",".join(c.label for c in kwargs.get("constraints") or []))
        return orig(*args, **kwargs)

    monkeypatch.setattr(ddl, "validate_constraints", counting)
    e = CypherEngine(spark)
    e.cypher("CREATE GRAPH cdel")
    e.cypher("CREATE VLABEL ck")
    e.cypher("CREATE UNIQUE PROPERTY INDEX ON ck (k)")
    e.cypher("CREATE CONSTRAINT ON ck ASSERT k > 0")
    e.cypher("UNWIND [1, 2, 3] AS k CREATE (:ck {k: k})")
    assert calls == ["ck,ck"]
    calls.clear()
    sc = spark.sparkContext
    sc.setJobGroup("cdel-probe", "delete-only")
    try:
        e.cypher("MATCH (n:ck {k: 2}) DELETE n")
    finally:
        sc.setJobGroup(None, None)
    assert calls == [] and e.last_write_stats["deletedvertices"] == 1
    assert sc.statusTracker().getJobIdsForGroup("cdel-probe")  # the delete ran
    with pytest.raises(ValueError, match="unique"):
        e.cypher("CREATE (:ck {k: 1})")
    assert calls == ["ck,ck"]


# The four write shapes of the interactive benchmark on a small graph,
# each measured after the statements that set it up. Bounds are the job
# counts measured once write work was sized by change-sets (jobs counted
# by job group, as in test_delete_stat_jobs_one_per_victim_kind), with
# no slack; sized by the labels touched, the same statements started
# 24, 9, 22-26 and 28 jobs.
_WRITE_SHAPES = {
    "create": ([], "CREATE (c:wc {k: 100, bal: 1.0})-[:wp]->(o:wo {ok: 1000})", 6),
    "set": ([], "MATCH (c:wc) WHERE c.k >= 2 AND c.k < 6 SET c.bal = c.bal + 1.0", 7),
    "merge": ([], "MERGE (s:ws {name: 'new'}) ON CREATE SET s.bal = 0.0 "
                  "ON MATCH SET s.bal = s.bal + 1.0", 9),
    "detach_delete": (
        ["CREATE (c:wc {k: 100, bal: 1.0})-[:wp]->(o:wo {ok: 1000})",
         "MERGE (s:ws {name: 'new'}) ON CREATE SET s.bal = 0.0"],
        "MATCH (c:wc)-[:wp]->(o:wo), (s:ws) WHERE c.k = 100 AND s.name = 'new' "
        "DETACH DELETE c, o, s", 19),
}


@pytest.mark.parametrize("shape", sorted(_WRITE_SHAPES))
def test_write_job_budget(spark, shape):
    prelude, stmt, bound = _WRITE_SHAPES[shape]
    e = CypherEngine(spark, Graph(GraphCatalog(f"wb_{shape}")))
    e.cypher("UNWIND range(1, 8) AS k CREATE (c:wc {k: k, bal: 1.0})"
             "-[:wp]->(:wo {ok: k}), (c)-[:wn]->(:wnat {n: k})")
    e.cypher("UNWIND ['s1', 's2', 's3'] AS nm CREATE (:ws {name: nm, bal: 0.0})")
    e.cypher("CREATE CONSTRAINT ON wc ASSERT k IS UNIQUE")
    for p in prelude:
        e.cypher(p)
    sc = spark.sparkContext
    group = f"wbudget-{shape}"
    sc.setJobGroup(group, "write budget")
    try:
        e.cypher(stmt).write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= bound, (shape, jobs)

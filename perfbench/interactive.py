"""interactive: a closed loop of one client with no think time.

The client runs whole cycles of a fixed mix, until ``--seconds`` have
passed: every parameterized Cypher and SQL read template once and,
between them, the snapshot writes of writes.py, each followed by its
read-back. Before timing starts, one untimed pass runs every read
template on its own literal stream. Every statement carries fresh
literals drawn from the seed, so parse, compile, the eager path-search
jobs and the write commit run on every call. A read's latency runs
from the call until its rows are collected to the client; after the
timed loop each read's result digest is checked against a DuckDB
replay of the same literals.
"""

from __future__ import annotations

import random
import statistics
import time

import pyarrow.parquet as pq

import writes
from common import Op, Run, digest, duckdb_conn, timed

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATION_BASE = 5 << 48
REGION_BASE = 6 << 48


# Each template maps an RNG and the table sizes ``n`` (rows by table
# name) to (kind, statement, DuckDB oracle). Kind "cypher" runs through
# CypherEngine.cypher, "sql" through spark.sql, "view" registers the
# Cypher part as a view and runs the SQL over it.
def one_hop(r, n):
    p = r.randrange(496000, 499000)
    return ("cypher",
            "MATCH (c:customer)-[:placed]->(o:orders) WHERE o.o_totalprice > "
            f"{p} RETURN c.c_custkey AS ckey, o.o_orderkey AS okey, o.o_totalprice AS total",
            "SELECT c_custkey, o_orderkey, o_totalprice FROM customer JOIN orders "
            f"ON o_custkey = c_custkey WHERE o_totalprice > {p}")


def three_hop(r, n):
    nk, brand = r.randrange(25), f"Brand#{r.randrange(1, 26)}"
    return ("cypher",
            "MATCH (n:nation)<-[:in_nation]-(c:customer)-[:placed]->(o:orders)"
            f"-[:contains]->(p:part) WHERE n.n_nationkey = {nk} AND p.p_brand = '{brand}' "
            "RETURN c.c_custkey AS ckey, o.o_orderkey AS okey, p.p_partkey AS pkey",
            "SELECT c_custkey, o_orderkey, p_partkey FROM nation "
            "JOIN customer ON c_nationkey = n_nationkey JOIN orders ON o_custkey = c_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey JOIN part ON p_partkey = l_partkey "
            f"WHERE n_nationkey = {nk} AND p_brand = '{brand}'")


def vle(r, n):
    a = r.randrange(0, n["customer"] - 100)
    return ("cypher",
            "MATCH (c:customer)-[e:in_nation|in_region*1..2]->(x) "
            f"WHERE c.c_custkey >= {a} AND c.c_custkey < {a + 100} "
            "RETURN c.c_custkey AS ckey, length(e) AS hops, x.id AS xid",
            f"SELECT c_custkey, 1, {NATION_BASE} + c_nationkey FROM customer "
            f"WHERE c_custkey >= {a} AND c_custkey < {a + 100} UNION ALL "
            f"SELECT c_custkey, 2, {REGION_BASE} + n_regionkey FROM customer "
            f"JOIN nation ON n_nationkey = c_nationkey WHERE c_custkey >= {a} "
            f"AND c_custkey < {a + 100}")


def shortest_path(r, n):
    a = r.randrange(0, n["customer"] - 50)
    return ("cypher",
            f"MATCH (c:customer), (r:region) WHERE c.c_custkey >= {a} AND c.c_custkey < {a + 50} "
            "MATCH p = shortestpath((c)-[:in_nation|in_region*..3]->(r)) "
            "RETURN c.c_custkey AS ckey, r.r_regionkey AS rkey, length(p) AS hops",
            "SELECT c_custkey, n_regionkey, 2 FROM customer JOIN nation "
            f"ON n_nationkey = c_nationkey WHERE c_custkey >= {a} AND c_custkey < {a + 50}")


def dijkstra(r, n):
    a = r.randrange(0, n["orders"] - 100)
    return ("cypher",
            f"MATCH (o:orders), (t:part) WHERE o.o_orderkey >= {a} AND o.o_orderkey < {a + 100} "
            "MATCH p = dijkstra((o)-[x:contains]->(t), x.l_quantity, w) "
            "RETURN o.o_orderkey AS okey, t.p_partkey AS pkey, length(p) AS hops, w AS wt",
            "SELECT l_orderkey, l_partkey, 1, min(l_quantity) FROM lineitem "
            f"WHERE l_orderkey >= {a} AND l_orderkey < {a + 100} GROUP BY l_orderkey, l_partkey")


def tpch_q5(r, n):
    reg = r.choice(REGIONS)
    sql = ("SELECT n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
           "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue "
           "FROM customer JOIN orders ON o_custkey = c_custkey "
           "JOIN lineitem ON l_orderkey = o_orderkey "
           "JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey "
           "JOIN nation ON n_nationkey = c_nationkey JOIN region ON r_regionkey = n_regionkey "
           f"WHERE r_name = '{reg}' GROUP BY n_name")
    return ("sql", sql, sql)


def cypher_in_sql(r, n):
    p = r.randrange(300000, 450000)
    cy = ("MATCH (c:customer)-[:placed]->(o:orders) WHERE o.o_totalprice > "
          f"{p} RETURN c.c_mktsegment AS seg, o.o_totalprice AS total")
    sql = ("SELECT seg, count(*) AS n, CAST(SUM(CAST(total AS DECIMAL(18,2))) AS DOUBLE) "
           "AS sum_total FROM cy_seg_view GROUP BY seg")
    return ("view", (cy, sql),
            "SELECT c_mktsegment, count(*), CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
            f"AS DOUBLE) FROM customer JOIN orders ON o_custkey = c_custkey "
            f"WHERE o_totalprice > {p} GROUP BY c_mktsegment")


TEMPLATES = [one_hop, three_hop, vle, shortest_path, dijkstra, tpch_q5, cypher_in_sql]


def build_engine(ctx):
    """Graph build, CypherEngine and both ANALYZE passes."""
    from agensgraph_spark import loader
    from agensgraph_spark.cypher import CypherEngine
    g = loader.build_tpch_graph(ctx.spark, ctx.data)
    eng = CypherEngine(ctx.spark, g)
    g.collect_stats()
    g.collect_edge_stats()
    return eng


def construct(ctx, eng, kind, stmt):
    """Build the result frame of one statement (parse, compile, eager
    jobs); returns it unexecuted."""
    if kind == "cypher":
        return eng.cypher(stmt)
    if kind == "sql":
        with ctx.span("sql.construct"):
            return eng.sql(stmt)
    cy, sql = stmt
    eng.register_cypher_view("cy_seg_view", cy)
    with ctx.span("sql.construct"):
        return eng.sql(sql)


def read(ctx, eng, tpl, r: random.Random, n: dict, ops: list[Op], pending: list) -> None:
    kind, stmt, oracle = tpl(r, n)
    rid = ctx.request(f"read-{tpl.__name__}")
    t0 = time.perf_counter()
    try:
        with ctx.span("statement"):
            rows = construct(ctx, eng, kind, stmt).collect()
        op = Op(tpl.__name__, time.perf_counter() - t0, True, rid)
        pending.append((op, rows, oracle))
    except Exception as e:  # a failed statement is counted, never fatal
        op = Op(tpl.__name__, time.perf_counter() - t0, False, rid, repr(e)[:200])
    ops.append(op)


def mix(ctx, eng, model, r: random.Random, n: dict, k: int, ops, pending,
        rewritten) -> None:
    """One cycle: every read template once, with one step of write
    cycle ``k`` after reads 2, 3, 5 and 7."""
    steps = list(writes.cycle(r, model, k))
    slots = {1: steps[:1], 2: steps[1:2], 4: steps[2:3], 6: steps[3:]}
    for i, tpl in enumerate(TEMPLATES):
        read(ctx, eng, tpl, r, n, ops, pending)
        for step in slots.get(i, ()):
            writes.execute(ctx, eng, step, ops, rewritten)


def verify(ctx, pending) -> None:
    """Result digests of the timed reads against a DuckDB replay of the
    same literals, outside the timed region."""
    con = duckdb_conn(ctx.data)
    try:
        for op, rows, oracle in pending:
            got, want = digest(rows), digest(con.execute(oracle).fetchall())
            op.rows_out = got[0]
            if got != want:
                op.ok = False
                op.note = f"digest {got} != duckdb {want}"
    finally:
        con.close()


def run(ctx) -> Run:
    from agensgraph_spark.loader import register_tables
    out = Run()
    # one build per run: it is the first Spark work of the process, so
    # a repeated build would time a warm JVM instead of the set-up a
    # user waits for
    with ctx.span("setup.graph"):
        eng, out.setup["graph_build_s"] = timed(lambda: build_engine(ctx))
        writes.setup(eng)
    _, out.setup["register_tables_s"] = timed(lambda: register_tables(ctx.spark, ctx.data))
    model = writes.Model(ctx.data)
    n = {"customer": model.n_customers,
         "orders": pq.ParquetFile(f"{ctx.data}/orders.parquet").metadata.num_rows}
    rewritten: list[float] = []

    # warm-up: every read template once, untimed, on its own literal
    # stream; the writes are not repeated here, to keep the run short
    ctx.request("warmup")
    t = time.perf_counter()
    with ctx.span("setup.warmup"):
        warm_ops: list[Op] = []
        rw = random.Random(f"warm-{ctx.seed}")
        for tpl in TEMPLATES:
            read(ctx, eng, tpl, rw, n, warm_ops, [])
        bad = [op for op in warm_ops if not op.ok]
        if bad:
            raise RuntimeError(f"warm-up {bad[0].kind} failed: {bad[0].note}")
    out.setup["warmup_s"] = time.perf_counter() - t

    # whole cycles until --seconds have passed, so every run measures
    # the same statement mix
    r = random.Random(f"interactive-{ctx.seed}")
    pending: list = []
    deadline = time.perf_counter() + ctx.seconds
    k = 1
    while k == 1 or time.perf_counter() < deadline:
        c0 = time.perf_counter()
        mix(ctx, eng, model, r, n, k, out.ops, pending, rewritten)
        out.cycles_s.append(time.perf_counter() - c0)
        k += 1
    if ctx.tracer is not None:
        ctx.tracer.set_request(None)
    out.notes["statements"] = len(out.ops)
    if rewritten:
        out.layers["cypher.writes.rows_rewritten_per_row_changed"] = \
            statistics.fmean(rewritten)
    out.notes["verify_s"] = timed(lambda: verify(ctx, pending))[1]
    return out

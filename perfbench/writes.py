"""Snapshot writes for the interactive workload.

``customer.c_custkey`` carries a unique constraint. One write cycle is
a CREATE of a customer with an order and its ``placed`` edge, a SET
over a seeded customer key range, a MERGE on a new supplier name, and
one DETACH DELETE of the customer, order and supplier the cycle
created, so the graph size stays stationary. Every write is followed
by a read-back of the touched rows, checked against the state the
benchmark models in Python. Created keys
lie outside every range the read templates filter on, so the reads'
DuckDB replays over the base tables stay valid.
"""

from __future__ import annotations

import random
import time

import pyarrow.parquet as pq

from common import Op, digest, noop


class Model:
    """Expected property values of the rows the writes touch."""

    def __init__(self, data: str):
        cust = pq.read_table(f"{data}/customer.parquet", columns=["c_custkey", "c_acctbal"])
        self.acctbal = dict(zip(cust.column(0).to_pylist(), cust.column(1).to_pylist()))
        self.n_customers = len(self.acctbal)


def cycle(r: random.Random, model: Model, k: int):
    """The write steps of cycle ``k``: (kind, write, read-back, rows the
    read-back must return). The model advances as each step is drawn."""
    key = model.n_customers + k
    okey = 10_000_000 + k
    bal = round(r.uniform(0, 5000), 2)
    price = round(r.uniform(1000, 9000), 2)
    yield ("create",
           f"CREATE (c:customer {{c_custkey: {key}, c_name: 'bench-{k}', c_acctbal: {bal}, "
           f"c_mktsegment: 'BENCH'}})-[:placed]->(o:orders {{o_orderkey: {okey}, "
           f"o_totalprice: {price}, o_orderstatus: 'O'}})",
           f"MATCH (c:customer)-[:placed]->(o:orders) WHERE c.c_custkey = {key} "
           "RETURN c.c_custkey, c.c_name, c.c_acctbal, o.o_orderkey, o.o_totalprice",
           [(key, f"bench-{k}", bal, okey, price)])

    lo = r.randrange(0, model.n_customers - 40)
    delta = r.choice([0.25, 0.5, 1.25, 2.0])
    for c in range(lo, lo + 40):
        model.acctbal[c] = model.acctbal[c] + delta
    yield ("set",
           f"MATCH (c:customer) WHERE c.c_custkey >= {lo} AND c.c_custkey < {lo + 40} "
           f"SET c.c_acctbal = c.c_acctbal + {delta}",
           f"MATCH (c:customer) WHERE c.c_custkey >= {lo} AND c.c_custkey < {lo + 40} "
           "RETURN c.c_custkey, c.c_acctbal",
           [(c, model.acctbal[c]) for c in range(lo, lo + 40)])

    name = f"bench-sup-{k}"
    yield ("merge",
           f"MERGE (s:supplier {{s_name: '{name}'}}) ON CREATE SET s.s_acctbal = 0.0 "
           "ON MATCH SET s.s_acctbal = s.s_acctbal + 1.0",
           f"MATCH (s:supplier) WHERE s.s_name = '{name}' RETURN s.s_name, s.s_acctbal",
           [(name, 0.0)])

    yield ("delete",
           f"MATCH (c:customer)-[:placed]->(o:orders), (s:supplier) WHERE c.c_custkey = {key} "
           f"AND s.s_name = '{name}' DETACH DELETE c, o, s",
           f"MATCH (c:customer) WHERE c.c_custkey = {key} RETURN count(*) "
           f"UNION ALL MATCH (o:orders) WHERE o.o_orderkey = {okey} RETURN count(*) "
           f"UNION ALL MATCH (s:supplier) WHERE s.s_name = '{name}' RETURN count(*)",
           [(0,), (0,), (0,)])


def setup(eng) -> None:
    eng.cypher("CREATE CONSTRAINT bench_cust_key ON customer ASSERT c_custkey IS UNIQUE")


def execute(ctx, eng, step, ops: list[Op], rewritten: list[float]) -> None:
    """Run one write and its read-back; appends both operations to
    ``ops``. In a traced run, ``rewritten`` gets the rows the commit
    rewrote per row the statement changed."""
    kind, write, readback, want = step
    rid = ctx.request(f"write-{kind}")
    before = dict(eng.graph.frames)
    t0 = time.perf_counter()
    try:
        with ctx.span("statement"):
            noop(eng.cypher(write))
        wop = Op(f"write_{kind}", time.perf_counter() - t0, True, rid)
    except Exception as e:  # a failed write is counted, never fatal
        wop = Op(f"write_{kind}", time.perf_counter() - t0, False, rid, repr(e)[:200])
    if ctx.tracer is not None and wop.ok:
        touched = [lbl for lbl, df in eng.graph.frames.items() if before.get(lbl) is not df]
        changed = sum(eng.last_write_stats.values())
        rows = sum(eng.graph.frames[lbl].count() for lbl in touched)
        rewritten.append(rows / max(changed, 1))
    rid = ctx.request(f"readback-{kind}")
    t1 = time.perf_counter()
    try:
        with ctx.span("statement"):
            rows = eng.cypher(readback).collect()
        rop = Op(f"readback_{kind}", time.perf_counter() - t1, True, rid)
        if digest(rows) != digest(want):
            rop.ok, rop.note = False, f"read-back {rows[:3]} != model {want[:3]}"
    except Exception as e:
        rop = Op(f"readback_{kind}", time.perf_counter() - t1, False, rid, repr(e)[:200])
    ops += [wop, rop]

"""Pieces the two workloads share: the run context, operation
records, result digests and the DuckDB replay connection."""

from __future__ import annotations

import contextlib
import datetime
import decimal
import hashlib
import os
import time
from dataclasses import dataclass, field


@dataclass
class Op:
    kind: str          # template or stage name
    latency_s: float
    ok: bool
    rid: str           # request id: the job group in a traced run
    note: str = ""


@dataclass
class Run:
    """What one workload run hands back to run.py."""
    ops: list[Op] = field(default_factory=list)
    cycles_s: list[float] = field(default_factory=list)
    setup: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


class Ctx:
    """Run-wide state handed to a workload."""

    def __init__(self, spark, data: str, seed: int, seconds: float, tracer, work: str):
        self.spark = spark
        self.data = data
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work  # scratch directory inside the checkout
        self._rid = 0

    def request(self, prefix: str) -> str:
        """A fresh request id; in a traced run it also becomes the job
        group of the jobs that follow."""
        self._rid += 1
        rid = f"{prefix}-{self._rid}"
        if self.tracer is not None:
            self.tracer.set_request(rid)
        return rid

    def span(self, name: str):
        """A span in a traced run; nothing otherwise."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


def noop(df) -> None:
    """Materialize a frame through Spark's noop sink."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def _norm(v):
    if isinstance(v, float):
        return round(v, 6) + 0.0
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6) + 0.0
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(rows) -> tuple[int, str]:
    """Row count plus an order-independent hash of the normalized rows
    (floats rounded to 6 places, so last-ulp summation noise between
    engines does not count as a wrong result)."""
    keys = sorted(repr(tuple(_norm(x) for x in r)) for r in rows)
    h = hashlib.sha1("\n".join(keys).encode()).hexdigest()[:16]
    return len(keys), h


def duckdb_conn(data: str):
    import duckdb
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                 "temp_directory": os.environ.get("TMPDIR", ".")})
    for name in ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        path = os.path.join(data, f"{name}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con

"""Benchmark of the agensgraph_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see README.md and each
module's docstring):

- ``interactive``: closed loop, one client, whole cycles of seeded
  Cypher and SQL read templates interleaved with snapshot writes and
  their read-backs, until ``--seconds`` have passed (interactive.py,
  writes.py);
- ``batch_job``: one nightly curation, analytics and streaming job
  (batch.py); the job is the unit, so a run measures one whole job.

Inputs are generated once per checkout into ``.perfbench/`` (datagen.py);
the seed picks statement literals and write keys.

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones (layers.py),
from spans recorded around calls into the package and from Spark's
status stores; the traced run also writes its spans to
``.perfbench/traces/``. The line before it carries the details: seed,
tail percentile and sample count, contention verdict, set-up parts,
per-operation latencies and failures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402

WORKLOADS = {"interactive": "interactive", "batch_job": "batch"}  # name -> module
DATA_SCALE = 0.25
WORK_DIR = ".perfbench"
DRIVER_MEMORY_MB = 4096


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(root: str, work: str) -> None:
    """Host-fitted launch: every core, a driver heap below host RAM,
    the checkout on PYTHONPATH (Arrow and pandas UDF workers import the
    package), and every scratch file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):
        ram_mb = 2 * DRIVER_MEMORY_MB
    mem = min(DRIVER_MEMORY_MB, ram_mb // 2)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{mem}m",
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata files under /tmp: the run stays inside the checkout
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell"]),
    })


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0 or x >= 1.0:
        return 0.0 if x <= 0.0 else 1.0
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betainc(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2:
            num = -((a + m) * (a + b + m) * x) / ((a + 2 * m) * (a + 2 * m + 1))
        else:
            num = (m * (b - m) * x) / ((a + 2 * m - 1) * (a + 2 * m))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        c = c if abs(c) > tiny else tiny
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return front * (f - 1.0)


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a beta-weighted average
    of every order statistic. A run holds one cycle of 15 statements
    or the job's 9 stages; on so few samples a single
    order statistic jumps between neighbouring statement kinds from
    run to run, while this estimate moves only as the latencies do."""
    xs = sorted(values)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def end_to_end(run, setup_s: float) -> dict:
    lat = [op.latency_s for op in run.ops if op.ok] or [float("nan")]
    return {"setup_s": {"value": setup_s, "unit": "s"},
            "p50_s": {"value": quantile(lat, 0.5), "unit": "s"},
            "tail_s": {"value": quantile(lat, 0.9), "unit": "s"},
            "mean_s": {"value": statistics.fmean(lat), "unit": "s"}}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "agensgraph_spark", "__init__.py")):
        print("perfbench: run from the repository root (agensgraph_spark/ not found)",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    work = os.path.join(root, WORK_DIR)
    configure_env(root, work)
    sys.path.insert(0, root)

    import datagen
    data = os.path.join(work, f"data-{DATA_SCALE:g}")
    rows, gen_s = datagen.ensure(data, DATA_SCALE)

    gate = host.ContentionGate()
    gate.baseline()
    gate.start()
    spark = tracer = None
    try:
        t0 = time.perf_counter()
        from agensgraph_spark import get_spark
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        if args.trace:
            from spans import Tracer
            tracer = Tracer(spark)
            tracer.install()
        from common import Ctx
        ctx = Ctx(spark, data, args.seed, args.seconds, tracer, work)
        run = __import__(WORKLOADS[args.workload]).run(ctx)
        setup_s = get_spark_s + sum(v for k, v in run.setup.items() if k.endswith("_s"))
        layers = None
        if tracer is not None:
            import layers as L
            layers = L.per_layer(ctx, run, get_spark_s)
            span_file = os.path.join(work, "traces",
                                     f"spans-{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(span_file), exist_ok=True)
            tracer.write(span_file, {"workload": args.workload, "seed": args.seed})
    finally:
        contention = gate.stop()
        jvm_peak_mb = stop_spark(spark)
    peak_mb = (host.vm_hwm_mb(os.getpid()) or 0.0) + (jvm_peak_mb or 0.0)
    if layers is not None:
        layers["exec.peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}

    failed = sum(1 for op in run.ops if not op.ok)
    attempted = len(run.ops)
    e2e = end_to_end(run, setup_s)
    lat = [op.latency_s for op in run.ops if op.ok]
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tainted": contention["tainted"], "contention": contention,
        "tail_percentile": 90, "tail_samples": len(lat),
        "tail_samples_beyond": sum(1 for v in lat if v > e2e["tail_s"]["value"]),
        "data_rows": rows,
        "data_generation_s": gen_s, "get_spark_s": get_spark_s, "setup_parts": run.setup,
        "cycles_s": run.cycles_s, "notes": run.notes,
        "end_to_end": {k: v["value"] for k, v in e2e.items()}, "peak_rss_mb": peak_mb,
        "p50_by_class_s": by_class(run.ops),
        "ops": [[op.kind, round(op.latency_s, 4)] for op in run.ops],
        "failures": [{"kind": op.kind, "note": op.note} for op in run.ops if not op.ok][:20],
    }
    if layers is not None:
        details["span_file"] = os.path.relpath(span_file, root)
        details["tracing_overhead"] = L.overhead(work, args.workload, e2e)
    else:
        save_untraced(work, args.workload, args.seed, e2e)
    print(json.dumps(details, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": e2e if layers is None else layers}))
    return 0


def by_class(ops) -> dict[str, float]:
    """Median latency of each operation class: read, write and
    read-back statements, batch stages."""
    groups: dict[str, list[float]] = {}
    for op in ops:
        if op.ok:
            groups.setdefault(op.rid.split("-", 1)[0], []).append(op.latency_s)
    return {k: statistics.median(v) for k, v in groups.items()}


def stop_spark(spark) -> float | None:
    """Stop the session and the JVM it runs in, then wait until every
    process this run started has ended. Returns the JVM's peak
    resident memory in MiB."""
    if spark is None:
        return None
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    peak = host.vm_hwm_mb(proc.pid) if proc is not None else None
    kids = host.descendants()
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        host.reap(kids | host.descendants())
    return peak


def save_untraced(work: str, workload: str, seed: int, e2e: dict) -> None:
    """Keep the untraced figures so a later traced run of the same
    workload can report its tracing overhead."""
    path = os.path.join(work, "results", f"{workload}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"seed": seed, **{k: v["value"] for k, v in e2e.items()}}) + "\n")


if __name__ == "__main__":
    sys.exit(main())

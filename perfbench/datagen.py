"""Deterministic input tables for the benchmark.

Writes the TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings`` (the schemas the engine's loader and pipeline operators
read) as single-file Parquet tables, with NumPy and PyArrow only: no
Spark, so the inputs are identical whichever engine commit runs on them.

The tables are a fixed function of ``scale`` (1.0 = 150k orders, ~600k
lineitem rows, 5k documents, 2k embeddings, 100k events). They do not
depend on the benchmark seed: the seed picks statement literals and
write keys over these tables, so one generation per checkout serves
every run. Near-duplicate structure is planted on
purpose (template-copied documents, perturbed embedding copies) so the
dedup stages have real work and a checkable answer.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20241017  # fixed: the tables never vary with --seed
FORMAT_VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
STREAM_FILES = 8


def sizes(scale: float) -> dict[str, int]:
    return {"customer": int(15000 * scale), "supplier": int(1000 * scale),
            "part": int(20000 * scale), "orders": int(150000 * scale),
            "events": int(100000 * scale), "documents": int(5000 * scale),
            "embeddings": int(2000 * scale), "users": int(1500 * scale)}


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (seconds * 1e6).astype("int64").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = _vocab(rng, 2000)
    zipf = lambda k: (rng.random(k) ** 1.7 * len(vocab)).astype(int)  # noqa: E731
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.03:  # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.18:  # near copy: ~5% of tokens replaced
            toks = texts[int(rng.integers(0, i))].split(" ")
            flip = rng.random(len(toks)) < 0.05
            repl = zipf(len(toks))
            texts.append(" ".join(vocab[repl[j]] if flip[j] else t
                                  for j, t in enumerate(toks)))
        else:
            texts.append(" ".join(vocab[j] for j in zipf(int(rng.integers(12, 61)))))
    lang_u = rng.random(n)
    lang = np.select([lang_u < 0.44, lang_u < 0.59, lang_u < 0.73, lang_u < 0.87],
                     LANGS[:4], LANGS[4])
    return {"doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(lang.tolist()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    vecs = rng.uniform(-1.0, 1.0, (n, dim)).astype(np.float32)
    dup = rng.random(n) < 0.10
    dup[:10] = False
    for i in np.nonzero(dup)[0]:  # perturbed copy of an earlier vector
        vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0, 0.02, dim).astype(np.float32)
    return {"vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32))}


def generate(out: str, scale: float) -> dict[str, int]:
    """Write every table under ``out`` (replacing a partial earlier
    attempt) and return the row count of each."""
    if os.path.isdir(out):
        shutil.rmtree(out)
    tmp = out + ".tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    rng = np.random.default_rng(GEN_SEED)
    n = sizes(scale)
    counts: dict[str, int] = {}

    counts["region"] = _write(tmp, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    counts["nation"] = _write(tmp, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    counts["customer"] = _write(tmp, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, nc), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)].tolist())})
    counts["supplier"] = _write(tmp, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, ns), 2))})
    adjectives = ["large", "hot", "blue", "small", "red", "green", "shiny",
                  "old", "new", "round"]
    nouns = ["ring", "bolt", "gear", "pipe", "plate", "wheel", "screw",
             "lens", "clip", "rod"]
    counts["part"] = _write(tmp, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{adjectives[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 10, npart), rng.integers(0, 10, npart))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO",
                                     "MEDIUM"])[rng.integers(0, 6, npart)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10.0, 2))})

    odays = rng.integers(0, 2405, no)
    counts["orders"] = _write(tmp, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, no)].tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": _ts("1995-01-01", odays * 86400.0),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])
                                    [rng.integers(0, 5, no)].tolist())})

    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    nl = len(okey)
    qty = rng.integers(1, 51, nl).astype(float)
    counts["lineitem"] = _write(tmp, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * (900 + rng.integers(0, 1000, nl) / 10.0), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].tolist()),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, nl)].tolist()),
        "l_shipdate": _ts("1995-01-01", (odays[okey] + rng.integers(1, 121, nl)) * 86400.0)})

    ne = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    events = {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)].tolist()),
        "value": pa.array(np.round(rng.uniform(0, 100, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])}
    counts["events"] = _write(tmp, "events", events)
    # the same events as time-ordered files: a file-source stream
    # replays them in several micro-batches
    stream_dir = os.path.join(tmp, "events_stream")
    os.makedirs(stream_dir)
    whole = pa.table(events)
    step = -(-ne // STREAM_FILES)
    for k in range(STREAM_FILES):
        pq.write_table(whole.slice(k * step, step),
                       os.path.join(stream_dir, f"part-{k:03d}.parquet"))

    counts["documents"] = _write(tmp, "documents", _documents(rng, n["documents"]))
    counts["embeddings"] = _write(tmp, "embeddings", _embeddings(rng, n["embeddings"]))

    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"version": FORMAT_VERSION, "scale": scale, "rows": counts}, f)
    os.rename(tmp, out)
    return counts


def check(out: str, scale: float) -> dict[str, int] | None:
    """Row counts of a complete data directory for this scale and
    format, read back from the Parquet footers; None when the directory
    is missing, stale or does not match its manifest."""
    try:
        with open(os.path.join(out, "manifest.json")) as f:
            man = json.load(f)
    except (OSError, ValueError):
        return None
    if man.get("version") != FORMAT_VERSION or man.get("scale") != scale:
        return None
    rows = {}
    for name, want in man["rows"].items():
        try:
            rows[name] = pq.ParquetFile(os.path.join(out, f"{name}.parquet")).metadata.num_rows
        except OSError:
            return None
        if rows[name] != want:
            return None
    n = sizes(scale)
    for name in ("customer", "supplier", "part", "orders", "events",
                 "documents", "embeddings"):
        if rows.get(name) != n[name]:
            return None
    if not (3 * n["orders"] <= rows.get("lineitem", 0) <= 5 * n["orders"]):
        return None
    return rows


def ensure(out: str, scale: float) -> tuple[dict[str, int], float]:
    """Generate the tables unless a complete copy exists; returns the
    row counts and the seconds spent generating (0 when reused)."""
    import time
    rows = check(out, scale)
    if rows is not None:
        return rows, 0.0
    t0 = time.perf_counter()
    generate(out, scale)
    took = time.perf_counter() - t0
    rows = check(out, scale)
    if rows is None:
        raise RuntimeError(f"generated tables under {out} fail their row-count check")
    return rows, took

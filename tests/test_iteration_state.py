"""Iteration-state hygiene for the iterative operators and cap visibility.

The loops in operators/paths.py are generational: each round retires
the superseded cached generation (GraphX-Pregel style), so a deep
search pins O(1) frames, not O(iterations). The caps (VLE hop clamp,
Dijkstra max_iters, LSH bucket drop) must WARN — the workload promises
no silent caps."""

import logging
import time

import pytest
from pyspark.sql import functions as F

from agensgraph_spark.operators import paths as P
from agensgraph_spark.pipeline import dedup as D


def chain_edges(spark, n):
    return spark.createDataFrame(
        [(i, i + 1, 100 + i, 1.0) for i in range(n)],
        "src long, dst long, eid long, w double")


def n_cached(spark) -> int:
    """CacheManager entries (df.cache/persist) — the store that leaked
    a frame per iteration before generational retirement."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_dijkstra_bounded_cached_frames(spark):
    pairs = spark.createDataFrame([(0, 15)], "seed long, target long")
    before = n_cached(spark)
    out = P.dijkstra_paths(chain_edges(spark, 15), pairs)  # 15 relaxation rounds
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["len"] == 15 and rows[0]["weight"] == 15.0
    after = n_cached(spark)
    # final paths generation + endpoint pair set stay pinned; every
    # superseded generation and the edge pin must be gone
    assert after - before <= 3, (before, after)


def test_dijkstra_cached_frames_independent_of_depth(spark):
    deltas = []
    for n in (5, 12):
        pairs = spark.createDataFrame([(0, n)], "seed long, target long")
        before = n_cached(spark)
        P.dijkstra_paths(chain_edges(spark, n), pairs).collect()
        deltas.append(n_cached(spark) - before)
    assert deltas[1] - deltas[0] <= 1, deltas


def test_bfs_bounded_cached_frames(spark):
    pairs = spark.createDataFrame([(0, 10), (0, 7)], "seed long, target long")
    before = n_cached(spark)
    out = P.bfs_shortest(chain_edges(spark, 10), pairs, 1, 10)  # deep loop
    got = {(r["seed"], r["target"]): r["len"] for r in out.collect()}
    assert got == {(0, 10): 10, (0, 7): 7}
    after = n_cached(spark)
    # hits live in a checkpointed accumulator; frontier generations,
    # the pair set and the edge pin are all retired on exit
    assert after - before <= 1, (before, after)


def test_vle_result_survives_edge_unpersist(spark):
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = P.vle_expand(chain_edges(spark, 6), seeds, 1, 6)
    assert out.count() == 6  # consumed after the edge pin was released


def test_vle_clamp_warns(spark, caplog):
    seeds = spark.createDataFrame([(0,)], "seed long")
    with caplog.at_level(logging.WARNING, logger="agensgraph_spark.operators.paths"):
        P.vle_expand(chain_edges(spark, 3), seeds, 1, 100)
    assert any("clamped" in r.getMessage() for r in caplog.records)


def test_dijkstra_max_iters_warns(spark, caplog):
    pairs = spark.createDataFrame([(0, 6)], "seed long, target long")
    with caplog.at_level(logging.WARNING, logger="agensgraph_spark.operators.paths"):
        out = P.dijkstra_paths(chain_edges(spark, 6), pairs, max_iters=3)
        out.collect()
    assert any("max_iters" in r.getMessage() for r in caplog.records)


def _dup_docs(spark):
    # four identical docs -> every band bucket has 4 members; with
    # max_bucket=2 all buckets are dropped and zero candidates emerge
    return spark.createDataFrame(
        [(i, "the same exact text in every copy of this document") for i in range(4)],
        "doc_id long, text string")


def _poll_records(caplog, needle, timeout=15.0):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if any(needle in r.getMessage() for r in caplog.records):
            return True
        time.sleep(0.2)
    return False


def test_lsh_dropped_bucket_warns(spark, caplog):
    """The in-band Observation warning (zero extra jobs). AQE drops
    observed metrics when 2+ shuffle stages sit above CollectMetrics
    (Spark 4.1 limitation, see dedup._warn_async) — assert the warning
    in the plan shape where Spark delivers it."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with caplog.at_level(logging.WARNING, logger="agensgraph_spark.pipeline.dedup"):
            out = D.minhash_lsh_candidates(_dup_docs(spark), max_bucket=2,
                                           audit_cap=True)
            assert out.count() == 0
            assert _poll_records(caplog, "max_bucket")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_lsh_cap_audit_not_silent_under_aqe(spark, caplog):
    """Under AQE the watcher must still say SOMETHING: an info record
    pointing at the deterministic audit path."""
    with caplog.at_level(logging.INFO, logger="agensgraph_spark.pipeline.dedup"):
        out = D.minhash_lsh_candidates(_dup_docs(spark), max_bucket=2,
                                       audit_cap=True)
        assert out.count() == 0
        assert _poll_records(caplog, "lsh_skew_stats")


def test_lsh_cap_announced_by_default(spark, caplog):
    """With the counted audit off (default, hot path) the cap is still
    announced at build time — never silent."""
    with caplog.at_level(logging.INFO, logger="agensgraph_spark.pipeline.dedup"):
        D.minhash_lsh_candidates(_dup_docs(spark), max_bucket=2)
    assert any("skew cap" in r.getMessage() for r in caplog.records)


def test_lsh_skew_stats_counts_dropped(spark):
    row = D.lsh_skew_stats(_dup_docs(spark), max_bucket=2).collect()[0]
    assert row["n_dropped"] == 8  # every band's bucket holds all 4 docs
    assert row["max_bucket_size"] == 4
    row2 = D.lsh_skew_stats(_dup_docs(spark), max_bucket=10_000).collect()[0]
    assert row2["n_dropped"] == 0


def test_lsh_default_cap_keeps_buckets(spark):
    docs = spark.createDataFrame(
        [(i, "the same exact text in every copy of this document") for i in range(4)],
        "doc_id long, text string")
    assert D.minhash_lsh_candidates(docs).count() == 6  # all 4C2 pairs


# Every family that materializes through operators/iterate.py, on tiny
# inputs. Each case returns its result frame; the deep cases run past
# iterate.TRUNCATE_EVERY rounds so the every-6 cadence fires.
def _graph(spark):
    # two triangles sharing vertex 2 (one directed cycle each), a
    # 4-clique with a two-edge tail, and vertex 11 isolated
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 6), (5, 7),
         (5, 8), (6, 7), (6, 8), (7, 8), (8, 9), (9, 10)], "src long, dst long")
    verts = spark.range(12)
    return edges, verts, spark.createDataFrame([(0,), (5,)], "id long")


def _path_cases():
    def vle(spark):
        return P.vle_expand(chain_edges(spark, 8),
                            spark.createDataFrame([(0,)], "seed long"), 1, 7
                            ).select("seed", "dst", "len")

    def bfs(spark):
        return P.bfs_shortest(
            chain_edges(spark, 8),
            spark.createDataFrame([(0, 6)], "seed long, target long"), 1, 7
        ).select("seed", "target", "len")

    def dijkstra(spark):
        return P.dijkstra_paths(
            chain_edges(spark, 8),
            spark.createDataFrame([(0, 6)], "seed long, target long"),
            max_iters=10).select("seed", "target", "len", "weight")

    return {"vle_expand": vle, "bfs_shortest": bfs, "dijkstra_paths": dijkstra}


def _analytics_cases():
    from agensgraph_spark.operators import analytics as AN

    def on_graph(fn):
        return lambda spark: fn(*_graph(spark))

    return {
        "pagerank": on_graph(lambda e, v, s: AN.pagerank(e, v, iters=7)),
        "label_propagation": on_graph(
            lambda e, v, s: AN.label_propagation(e, v, iters=7)),
        "personalized_pagerank": on_graph(
            lambda e, v, s: AN.personalized_pagerank(e, v, s, iters=7)),
        "random_walks": on_graph(
            lambda e, v, s: AN.random_walks(e, s, steps=7)),
        "hits": on_graph(lambda e, v, s: AN.hits(e, v, iters=3)),
        "k_core": on_graph(lambda e, v, s: AN.k_core(e, k=2)),
        "k_truss_full": on_graph(
            lambda e, v, s: AN.k_truss(e, k=3, incremental_threshold=0.0)),
        "k_truss_incremental": on_graph(
            lambda e, v, s: AN.k_truss(e, k=3, incremental_threshold=1.1)),
        "harmonic_centrality": on_graph(
            lambda e, v, s: AN.harmonic_centrality(e, v, max_hops=3)),
        "betweenness_sampled": on_graph(
            lambda e, v, s: AN.betweenness_centrality_sampled(e, v, s, 3)),
        "scc_distributed": on_graph(
            lambda e, v, s: AN.strongly_connected_components(
                e, v, driver_max_edges=0)),
        "cc_distributed": on_graph(
            lambda e, v, s: D.connected_components(
                e.toDF("id_a", "id_b"), driver_max_edges=0)),
    }


def _pipeline_cases():
    from agensgraph_spark.pipeline.similarity import neighbor_mean_embeddings

    def minhash(spark):
        base = "the quick brown fox jumps over the lazy dog near the river bank"
        docs = spark.createDataFrame(
            [(1, base), (2, base + " today"), (3, base.replace("lazy", "sleepy")),
             (4, "an entirely different sentence about graph databases"),
             (5, "an entirely different sentence about graph database")],
            "doc_id long, text string")
        return D.minhash_neardup_pairs(docs, threshold=0.3)

    def neighbor_mean(spark):
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [3.0, 6.0]), (3, [0.0, 2.0])],
            ["vec_id", "embedding"])
        pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
        return neighbor_mean_embeddings(pairs, emb, rounds=2)

    def cypher_write(spark):
        from agensgraph_spark.catalog import GraphCatalog
        from agensgraph_spark.cypher.compiler import CypherEngine
        from agensgraph_spark.graph import Graph
        e = CypherEngine(spark, Graph(GraphCatalog("ck")))
        e.cypher("CREATE (:ckp {k: 1}), (:ckp {k: 2}), (:ckp {k: 3})")
        e.cypher("MATCH (a:ckp {k: 1}), (b:ckp {k: 2}) CREATE (a)-[:ckr]->(b)")
        e.cypher("MATCH (a:ckp {k: 2}) DETACH DELETE a")
        return e.cypher("MATCH (n:ckp) OPTIONAL MATCH (n)-[r:ckr]->() "
                        "RETURN n.k AS k, count(r) AS out")

    return {"minhash_neardup_pairs": minhash,
            "neighbor_mean_embeddings": neighbor_mean,
            "cypher_create_detach_delete": cypher_write}


_CKPT_CASES = {**_path_cases(), **_analytics_cases(), **_pipeline_cases()}


def _rows(df):
    def norm(v):
        if isinstance(v, float):
            return round(v, 9)
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v
    return sorted(tuple(norm(v) for v in r) for r in df.collect())


@pytest.fixture(scope="module")
def reliable_ckdir(tmp_path_factory):
    # one directory for the module: the SparkContext adopts the conf's
    # directory on first use and keeps it
    return tmp_path_factory.mktemp("reliable_ck")


@pytest.mark.parametrize("case", sorted(_CKPT_CASES))
def test_reliable_checkpoint_mode_matches_local(spark, reliable_ckdir, case):
    """With spark.agensgraph.checkpointDir set, every family that
    materializes through operators/iterate.py truncates lineage with
    reliable DataFrame.checkpoint: the rows equal the default
    localCheckpoint mode, and checkpoint files land in the configured
    directory (the executor-loss story depends on them existing)."""
    import os

    def listing():
        return {os.path.join(dp, f) for dp, ds, fs in os.walk(reliable_ckdir)
                for f in ds + fs}

    run = _CKPT_CASES[case]
    base = _rows(run(spark))
    before = listing()
    spark.conf.set("spark.agensgraph.checkpointDir", str(reliable_ckdir))
    try:
        out = run(spark)
        # listed while the result frame holds its checkpoints, before
        # the ContextCleaner may retire them
        written = listing() - before
        reliable = _rows(out)
    finally:
        spark.conf.unset("spark.agensgraph.checkpointDir")
    assert base, f"{case}: empty result proves nothing"
    assert reliable == base
    assert written, f"{case}: no checkpoint files under {reliable_ckdir}"

"""Iteration state: the one place the package materializes a frame.

Every fixpoint or fixed-round operator (paths, PageRank, HITS, LPA,
k-core, k-truss, CC, SCC, walks, centralities, MinHash, neighbor
means) is a loop of joins over DataFrames that must cut its lineage,
and the Cypher commit materializes each touched label. All of them go
through `materialize`, so one policy decides how:

- default: ``localCheckpoint`` — fastest, but the blocks live on the
  executors and do NOT survive executor loss (Spark's tradeoff);
- opt-in: set the engine conf ``spark.agensgraph.checkpointDir`` to a
  reliable (HDFS / object store) path and every materialization is a
  reliable ``DataFrame.checkpoint`` there, surviving executor loss for
  one write and read per generation. The SparkContext adopts the
  directory on first use; a pre-set ``setCheckpointDir`` is respected.

``eager=False`` is the shared-subtree form: a lazy localCheckpoint
rewrites the frame to ONE LogicalRDD computed by the first action that
reads it, so a subtree with several consumers (a vertex universe, a
degree-annotated edge relation, a generation read twice by the next
round) is computed once instead of re-inlined per reference, with no
job of its own (harmonic_centrality_sampled: 68 parquet scans to 0).
A reliable checkpoint is always eager: Spark writes a lazy one in a
second job that recomputes the plan — twice the work, and on a
nondeterministic plan other rows than the first action saw.

Each round materializes the new generation and `release`s superseded
persisted frames, so a deep loop pins O(1) frames; checkpoint storage
is reclaimed by the ContextCleaner once a frame is unreferenced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# rounds between truncations of a generation only the next round reads
# (`truncate`); generations with several readers truncate every round
TRUNCATE_EVERY = 6

# pin_edges reports a pinned edge relation at or below this many rows
# as small enough to broadcast into every hop join
BROADCAST_EDGE_LIMIT = 200_000


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage under the engine's checkpoint policy (module
    docstring): a local checkpoint, eager or lazy, or a reliable one
    when ``spark.agensgraph.checkpointDir`` is set."""
    spark = df.sparkSession
    try:
        d = spark.conf.get("spark.agensgraph.checkpointDir", "")
    except Exception:  # pragma: no cover - conf service unavailable
        d = ""
    if d:
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(d)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def truncate(df: DataFrame, done: int, rounds: int) -> DataFrame:
    """Materialize the generation after every `TRUNCATE_EVERY`-th of
    ``rounds`` rounds except the last (``done`` rounds finished)."""
    if done % TRUNCATE_EVERY == 0 and done < rounds:
        return materialize(df)
    return df


def release(*dfs: DataFrame | None) -> None:
    """Retire superseded persisted frames (non-blocking). Safe on
    ``None`` and on frames that were never persisted."""
    for df in dfs:
        if df is not None:
            try:
                df.unpersist(blocking=False)
            except Exception:  # pragma: no cover - defensive
                pass


def pin_edges(edges: DataFrame) -> tuple[DataFrame, bool]:
    """Persist an edge relation that every hop re-joins; each round's
    probe would otherwise re-run its whole scan lineage (label unions,
    graphid arithmetic). MEMORY_AND_DISK so oversized edge sets spill
    instead of OOM.

    Returns (edges, small): when the persisted relation is small the
    caller broadcasts it into every hop join, so the frontier never
    shuffles on the join key and each hop is one narrow stage. The
    count is the action that fills the pin, so it is nearly free."""
    from pyspark import StorageLevel
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    return edges, edges.count() <= BROADCAST_EDGE_LIMIT

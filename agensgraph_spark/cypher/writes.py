"""Cypher write clauses (CREATE / DELETE / SET / REMOVE / MERGE) as
snapshot-producing batch operations.

The reference drives writes through the ModifyGraph executor node
(reference: src/backend/executor/nodeModifyGraph.c:296 ExecModifyGraph
dispatching to execCypherCreate.c:30 ExecCreateGraph,
execCypherDelete.c:45, execCypherSet.c:141, execCypherMerge.c:35) with
MVCC visibility plus optional eager tuplestore buffering
(nodeModifyGraph.c:339-369) so later clauses observe earlier writes.

Spark-native shape: every write clause computes a *change-set
DataFrame* and swaps new immutable label frames into a working copy of
the Graph; downstream clauses in the same statement scan the working
copy, so the reference's eager semantics hold by construction — no
tuplestore, no visibility machinery. At scale the same change-sets
append/overwrite Parquet label snapshots (`Graph.write_snapshot`)
instead of memory.

A statement's eager work follows the rows it changes, not the size or
number of the labels it touches:

- Change-sets are materialized; label frames are not. A clause
  materializes its change-set once (the DELETE victims, the SET update
  rows, the CREATE input when it has more than the one seed row) and
  counts it in the same job. The new label frames stay lazy
  (anti-joins, unions, update joins) until the commit materializes
  each touched label exactly once (``CypherEngine._execute_write``).
- One broadcast rule (`changeset`): every join of a change-set against
  a label frame broadcasts the change-set side when its driver-known
  row count is below ``BROADCAST_CHANGESET_ROWS``. Checkpointed frames
  give the planner no reliable size, and left alone it broadcasts the
  whole label to probe a handful of ids.
- Repeated deletes in one statement (DELETE a ... DELETE a) count their
  survivors against the ids this statement already removed, never by
  re-scanning the rewritten frames.

Id allocation: the reference draws 48-bit locids from a per-label
sequence (src/backend/commands/graphcmds.c:79-87 ag_label_seq). Here the
sequence is ``LabelMeta.next_locid`` in the catalog: seeded by at most
one max-scan per label (all unseeded labels of a clause in one job),
then advanced by each statement's row count and carried through
commits, so one statement's locids are consecutive and a deleted
element's graphid is never handed out again. A batch of created
elements takes ``next_locid + dense_uid``, where the dense uid is
derived from monotonically_increasing_id() plus one tiny per-partition
row-count aggregate (partition-offset scheme) — embarrassingly parallel
and coordination-free. The input pipeline is checkpointed before
minting so ids are stable against recomputation; a CREATE with no
reading clause has one static row and mints without any job.
"""

from __future__ import annotations

import copy as _copy
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from agensgraph_spark.cypher import ast as A
from agensgraph_spark.cypher.scope import Binding
from agensgraph_spark.graph import Graph, prop_col_name, prop_display_name
from agensgraph_spark.graphid import LOCID_BITS, LOCID_MASK, graphid_col

DEFAULT_VLABEL = "ag_vertex"

# change-sets below this many rows broadcast into their joins against
# label frames (see `changeset`)
BROADCAST_CHANGESET_ROWS = 1_000_000


def changeset(df: DataFrame, n_rows: int) -> DataFrame:
    """The join side of a change-set (victim ids, update rows) against
    a label frame: broadcast when its driver-known row count is small."""
    return F.broadcast(df) if n_rows < BROADCAST_CHANGESET_ROWS else df


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """Checkpoint a change-set and count its rows in one job (beyond the
    plan's own shuffle stages): the count runs over the lazily
    checkpointed RDD, so computing it stores the checkpoint too. An
    eager checkpoint followed by count() takes three jobs: the
    checkpoint, then the count as a two-stage aggregate."""
    out = df.localCheckpoint(eager=False)
    return out, out._jdf.rdd().count()


@dataclass
class WriteStats:
    """Mirror of the reference's graphWriteStats counters
    (nodeModifyGraph.c:459-475; surfaced by
    get_last_graph_write_stats(), cypher_funcs.c:1186)."""
    insertedvertices: int = 0
    insertededges: int = 0
    deletedvertices: int = 0
    deletededges: int = 0
    updatedproperties: int = 0

    def as_dict(self) -> dict[str, int]:
        return dict(self.__dict__)


@dataclass
class WriteContext:
    """Per-statement working state: a private Graph copy whose frames
    mutate clause-by-clause, plus stats and the labels touched."""
    graph: Graph
    stats: WriteStats = field(default_factory=WriteStats)
    # labels whose frames this statement replaced (materialized at commit)
    touched: set[str] = field(default_factory=set)
    # labels with inserted or updated rows (constraint scope: a delete
    # cannot break a unique or check constraint)
    written: set[str] = field(default_factory=set)
    # kind ("v"/"e") -> (ids this statement already deleted, a bound on
    # their row count)
    deleted: dict[str, tuple[DataFrame, int]] = field(default_factory=dict)

    @classmethod
    def begin(cls, graph: Graph) -> "WriteContext":
        return cls(graph=Graph(_copy.deepcopy(graph.catalog), dict(graph.frames)))

    # ---- id allocation (the ag_label_seq analog) ----

    def seed_locids(self, labels) -> None:
        """Seed the sequence of every unseeded label in ``labels`` from
        its frame's max locid, in one aggregate over all of them."""
        cat = self.graph.catalog
        todo = [l for l in dict.fromkeys(labels) if cat.labels[l].next_locid is None]
        parts = [self.graph.frames[l].select(
                     F.lit(l).alias("l"), F.col("id").bitwiseAND(F.lit(LOCID_MASK)).alias("m"))
                 for l in todo
                 if self.graph.frames.get(l) is not None and self.graph.frames[l].columns]
        top: dict[str, int] = {}
        if parts:
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            top = {r["l"]: r["m"] for r in u.groupBy("l").agg(F.max("m").alias("m")).collect()}
        for l in todo:
            cat.labels[l].next_locid = (top.get(l) or 0) + 1

    def take_locids(self, label: str, n: int) -> int:
        """Reserve ``n`` consecutive locids of a seeded label; returns
        the first."""
        meta = self.graph.catalog.labels[label]
        base = meta.next_locid
        if base + n - 1 > LOCID_MASK:
            raise ValueError(
                f"locid overflow for label {label!r}: base={base} + span={n} "
                f"exceeds 48-bit locid space")
        meta.next_locid = base + n
        return base

    # ---- frame mutation ----

    @staticmethod
    def _pin_null_arrays(df: DataFrame, types: dict | None = None) -> DataFrame:
        """array<null> columns (empty-list literals) adopt the existing
        frame's element type, or array<string> when the frame has none —
        NullType columns cannot reach Parquet and would make union
        coercion direction-dependent."""
        import pyspark.sql.types as _T
        for f in df.schema.fields:
            if isinstance(f.dataType, _T.ArrayType) \
                    and isinstance(f.dataType.elementType, _T.NullType):
                tgt = (types or {}).get(f.name)
                if not isinstance(tgt, _T.ArrayType):
                    tgt = _T.ArrayType(_T.StringType())
                df = df.withColumn(f.name, F.col(f.name).cast(tgt))
        return df

    def append(self, label: str, new_rows: DataFrame) -> None:
        cur = self.graph.frames.get(label)
        if cur is None:
            self.graph.frames[label] = self._pin_null_arrays(new_rows)
        else:
            cur_types = {f.name: f.dataType for f in cur.schema.fields}
            new_rows = self._pin_null_arrays(new_rows, cur_types)
            new_types = {f.name: f.dataType for f in new_rows.schema.fields}
            cur = self._pin_null_arrays(cur, new_types)
            self.graph.frames[label] = cur.unionByName(new_rows, allowMissingColumns=True)
        self.touched.add(label)
        self.written.add(label)

    def update(self, label: str, df: DataFrame) -> None:
        """Install a frame whose rows this statement updated."""
        self.graph.frames[label] = df
        self.touched.add(label)
        self.written.add(label)

    def remove(self, label: str, keep: DataFrame) -> None:
        """Install a frame this statement deleted rows from."""
        self.graph.frames[label] = keep
        self.touched.add(label)

    def record_deleted(self, kind: str, ids: DataFrame, n_rows: int) -> None:
        prev = self.deleted.get(kind)
        self.deleted[kind] = ((ids, n_rows) if prev is None
                              else (prev[0].unionByName(ids), prev[1] + n_rows))

    def ensure_props(self, label: str, schema: dict[str, str]) -> None:
        meta = self.graph.catalog.labels[label]
        for k, t in schema.items():
            meta.props.setdefault(k, t)


class WriteMixin:
    """Write-clause compilation, mixed into QueryCompiler. Expects:
    self.df, self.scope, self.graph, self.params, self._ec(),
    self._ensure_df(), self.wctx (WriteContext)."""

    # ------------------------------------------------------------------
    # CREATE  (reference: execCypherCreate.c:30 ExecCreateGraph —
    # instantiate the pattern once per input row)
    # ------------------------------------------------------------------

    def _pattern_prop_exprs(self, pats) -> list:
        """Property-map value expressions of a pattern list — the
        write-clause positions where nodes(p)/relationships(p) need
        composite materialization before evaluation."""
        out = []
        for pat in pats:
            for el in pat.elements:
                props = getattr(el, "props", None)
                if props is not None:
                    out.extend(v for _, v in props.items)
        return out

    def _compile_create(self, c: A.Create, single_row: bool = False) -> None:
        """``single_row``: the caller knows the input is one row."""
        self._begin_write()
        if self.df is None:
            single_row = True  # no reading clause: the one seed row
        else:
            self._materialize_path_composites(
                self._pattern_prop_exprs(c.patterns))
        df = self._ensure_df()
        if single_row:
            span = 1
            df = df.withColumn("__uid", F.lit(0).cast("long"))
        else:
            df, span = self._dense_uids(df)
        self.wctx.seed_locids(self._create_labels(c.patterns))
        self.df = df
        created: list[tuple[str, list[Column]]] = []
        for pat in c.patterns:
            self._create_pattern(pat, span, created)
        self.df = self.df.drop("__uid")
        if not self.df._jdf.queryExecution().analyzed().deterministic():
            # a nondeterministic property value (rand(), ...) must be
            # the same in the committed frame and in later clauses
            self.df = self.df.localCheckpoint(eager=True)
        for label, cols in created:
            self.wctx.append(label, self.df.select(*cols))

    @staticmethod
    def _dense_uids(df: DataFrame) -> tuple[DataFrame, int]:
        """Pin ``df`` and number its rows 0..n-1 in ``__uid``; returns
        the frame and n.

        monotonically_increasing_id() alone jumps 2^33 between
        partitions — using its max as the locid span burns ~2^33 ids
        per partition per statement and can overflow the 48-bit locid
        into labid bits. Instead: the raw id encodes (partition << 33)
        | row-in-partition with row numbers contiguous from 0, so one
        tiny per-partition count (rows per partition, never the rows
        themselves) turns it into a dense uid — no global window, no
        RDD pass."""
        df = df.withColumn("__mid", F.monotonically_increasing_id())
        df = df.localCheckpoint(eager=True)  # pin ids against recompute
        part = F.shiftrightunsigned(F.col("__mid"), 33)
        counts = sorted(
            df.groupBy(part.alias("__p")).count().collect(),
            key=lambda r: r["__p"])
        offsets: list[tuple[int, int]] = []
        span = 0
        for r in counts:
            offsets.append((r["__p"], span))
            span += r["count"]
        off_expr = F.lit(0).cast("long")
        if offsets:
            pairs = [x for p, o in offsets for x in (F.lit(p), F.lit(o))]
            off_expr = F.create_map(*pairs)[part].cast("long")
        df = df.withColumn(
            "__uid", off_expr + F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
        ).drop("__mid")
        return df, span

    def _create_labels(self, pats) -> list[str]:
        """Labels a CREATE clause mints ids in, auto-created in the
        catalog in the order the clause creates elements (each
        pattern's nodes, then its edges)."""
        cat = self.wctx.graph.catalog
        bound = set(self.scope.bindings)
        out: list[str] = []
        for pat in pats:
            for node in pat.elements[0::2]:
                if node.var in bound or len(node.labels) > 1:
                    continue  # reuses a bound vertex, or fails below
                if node.var:
                    bound.add(node.var)
                out.append(node.labels[0] if node.labels else DEFAULT_VLABEL)
                if out[-1] not in cat.labels:
                    cat.create_vlabel(out[-1])
            for rel in pat.elements[1::2]:
                if len(rel.types) == 1:
                    out.append(rel.types[0])
                    if out[-1] not in cat.labels:
                        cat.create_elabel(out[-1])
        return out

    def _create_pattern(self, pat: A.PathPattern, span: int,
                        created: list[tuple[str, list[Column]]]) -> None:
        els = pat.elements
        if pat.kind != "plain":
            raise ValueError("CREATE pattern cannot use path-finding forms")
        # nodes first (so edges can reference both endpoints)
        node_vars: list[str] = []
        for i in range(0, len(els), 2):
            node_vars.append(self._create_node(els[i], span, created))
        evars: list[str] = []
        for i in range(1, len(els), 2):
            rel: A.RelPat = els[i]
            evars.append(self._create_edge(rel, node_vars[(i - 1) // 2],
                                           node_vars[(i + 1) // 2], span, created))
        if pat.var is not None:
            vids = [F.array(F.col(f"{v}__id")) for v in node_vars]
            eids = [F.array(F.col(f"{e}__id")) for e in evars]
            self.df = (self.df
                       .withColumn(f"{pat.var}__vids", F.concat(*vids))
                       .withColumn(f"{pat.var}__eids",
                                   F.concat(*eids) if eids else F.array().cast("array<long>"))
                       .withColumn(f"{pat.var}__len", F.lit(len(eids)).cast("long")))
            self.scope.bind(Binding(pat.var, "path"))

    def _eval_props(self, props: A.MapLit | None) -> list[tuple[str, Column]]:
        if props is None:
            return []
        ec = self._ec()
        out: list[tuple[str, Column]] = []
        for key, val in props.items:
            if key == "__param__":
                pv = self.params.get(val.name) if isinstance(val, A.Param) else None
                if not isinstance(pv, dict):
                    raise ValueError("property parameter must be a map")
                for k2, v2 in pv.items():
                    out.append((k2, F.lit(v2)))
                continue
            if key == "__copy__":
                # whole-map assignment: keys must be statically known —
                # properties(var) expands to the binding's columns, a map
                # literal to its entries (cypher_eager.sql:48 CREATE-SET)
                from agensgraph_spark.graph import prop_display_name
                if (isinstance(val, A.FuncCall)
                        and val.name.lower() in ("properties",)
                        and len(val.args) == 1 and isinstance(val.args[0], A.Var)):
                    src = val.args[0].name
                    b = self.scope.get(src)
                    if b is None or b.kind not in ("vertex", "edge"):
                        raise ValueError(
                            f"properties({src}) needs a bound vertex/edge")
                    for p in b.props:
                        out.append((prop_display_name(p), F.col(f"{src}__{p}")))
                    continue
                if isinstance(val, A.Var):
                    # CREATE (=r): a bare row/entity binding's columns
                    # become the map (implicit LOAD, cypher_dml.sql:1228)
                    b = self.scope.get(val.name)
                    if b is not None and b.kind in ("row", "vertex", "edge") and b.props:
                        for p in b.props:
                            out.append((prop_display_name(p),
                                        F.col(f"{val.name}__{p}")))
                        continue
                if isinstance(val, A.MapLit):
                    for k2, v2 in val.items:
                        out.append((k2, ec.col(v2)))
                    continue
                raise NotImplementedError(
                    "whole-map property assignment supports properties(var) "
                    "and map literals (flat typed columns need static keys)")
            out.append((key, ec.col(val)))
        return out

    def _create_node(self, node: A.NodePat, span: int,
                     created: list[tuple[str, list[Column]]]) -> str:
        var = node.var or self.scope.fresh_anon()
        bound = self.scope.get(var)
        if bound is not None:
            if bound.kind != "vertex":
                raise ValueError(f"variable {var!r} already bound as {bound.kind}")
            if node.labels or node.props:
                raise ValueError(f"bound variable {var!r} cannot take labels/properties in CREATE")
            return var
        if len(node.labels) > 1:
            raise ValueError("CREATE node takes at most one label")
        label = node.labels[0] if node.labels else DEFAULT_VLABEL
        self._mint(var, "vertex", label, span, {}, node.props, created)
        # span IS the pipeline row count (known driver-side from the
        # id allocation) — no per-element count job
        self.wctx.stats.insertedvertices += span
        return var

    def _create_edge(self, rel: A.RelPat, lvar: str, rvar: str, span: int,
                     created: list[tuple[str, list[Column]]]) -> str:
        if rel.varlen:
            raise ValueError("CREATE cannot use variable-length relationships")
        if rel.direction == "undir":
            raise ValueError("CREATE relationship must be directed")
        if len(rel.types) != 1:
            raise ValueError("CREATE relationship needs exactly one type")
        var = rel.var or self.scope.fresh_anon()
        if self.scope.get(var) is not None:
            raise ValueError(f"edge variable {var!r} already bound")
        src, dst = (lvar, rvar) if rel.direction == "out" else (rvar, lvar)
        ends = {"start": F.col(f"{src}__id"), "end": F.col(f"{dst}__id")}
        self._mint(var, "edge", rel.types[0], span, ends, rel.props, created)
        self.wctx.stats.insertededges += span
        return var

    def _mint(self, var: str, kind: str, label: str, span: int,
              ends: dict[str, Column], props: A.MapLit | None,
              created: list[tuple[str, list[Column]]]) -> None:
        """Add a created element's columns to the pipeline (graphid
        from the label's sequence, endpoint ids, property values), bind
        ``var`` and queue the label frame's new rows in ``created``."""
        prop_cols = [(prop_col_name(k), col) for k, col in self._eval_props(props)]
        labid = self.wctx.graph.catalog.labels[label].labid
        base = self.wctx.take_locids(label, span)
        cols = {"id": graphid_col(labid, F.lit(base) + F.col("__uid")), **ends}
        self.df = self.df.withColumns(
            {**{f"{var}__{c}": v for c, v in cols.items()},
             f"{var}__label": F.lit(label),
             **{f"{var}__{k}": col for k, col in prop_cols}})
        row_cols = [F.col(f"{var}__{c}").alias(c) for c in [*cols, *(k for k, _ in prop_cols)]]
        types = {f.name: f.dataType.simpleString()
                 for f in self.df.select(*row_cols).schema.fields}
        self.wctx.ensure_props(label, {
            prop_display_name(k): types[k] for k, _ in prop_cols})
        created.append((label, row_cols))
        self.scope.bind(Binding(var, kind, labels=[label], props=[k for k, _ in prop_cols]))

    # ------------------------------------------------------------------
    # DELETE / DETACH DELETE  (reference: execCypherDelete.c:45,215 —
    # non-detach vertex delete errors while edges remain)
    # ------------------------------------------------------------------

    def _compile_delete(self, d: A.Delete) -> None:
        self._begin_write()
        if self.df is None:
            raise ValueError("DELETE requires a preceding reading clause")
        # nodes(p)/relationships(p) in victim expressions resolve to
        # full composites, same as in projections (makeGraphpathDatum,
        # graph.c:1259) — pre-join them here so the expression layer
        # never falls back to bare id arrays
        self._materialize_path_composites(list(d.exprs))
        # every target's ids as one kind-tagged array per matched row,
        # so one job computes the matched rows for all targets
        kinds: set[str] = set()
        tagged: list[Column] = []

        def tag(kind: str, ids: Column) -> None:
            kinds.add(kind)
            ids = F.coalesce(ids.cast("array<bigint>"), F.array().cast("array<bigint>"))
            tagged.append(F.transform(ids, lambda x: F.struct(
                F.lit(kind).alias("k"), x.alias("id"))))

        for e in d.exprs:
            if not isinstance(e, A.Var):
                # entity-valued EXPRESSION: vertices(p)[i],
                # start_vertex(r)/end_vertex(r) — delete by its id
                # (cypher_dml.sql:658-662); kind from the expression root
                kind = self._delete_expr_kind(e)
                t = self._ec().tc(e)
                import pyspark.sql.types as _T
                col = t.col
                if isinstance(t.dtype, _T.StructType) and any(
                        f.name == "id" for f in t.dtype.fields):
                    col = col.getField("id")
                tag(kind, F.array(col))
                continue
            b = self.scope.require(e.name)
            if b.kind == "vertex":
                tag("v", F.array(F.col(f"{e.name}__id")))
            elif b.kind == "edge":
                tag("e", F.array(F.col(f"{e.name}__id")))
            elif b.kind == "path":
                tag("v", F.col(f"{e.name}__vids"))
                tag("e", F.col(f"{e.name}__eids"))
            else:
                raise ValueError(f"cannot DELETE {b.kind} variable {e.name!r}")
        victims, n = materialize(
            self.df.select(F.explode(F.concat(*tagged)).alias("x"))
            .select("x.k", "x.id").where(F.col("id").isNotNull()).distinct())

        # Explicit edge victims FIRST: the incident-edge pass below then
        # runs against already-updated frames, so an edge that is both
        # explicitly deleted and incident to a deleted vertex is counted
        # (and removed) exactly once, and the non-detach dangling check
        # needs no manual exclusion.
        if "e" in kinds:
            self._remove_ids("e", victims.where(F.col("k") == "e").select("id"), n)
        if "v" in kinds:
            vdf = victims.where(F.col("k") == "v").select("id")
            hit = self._incident_edges(vdf, n)
            inc = {} if hit is None else {
                r["__lbl"]: r["n"] for r in
                hit.groupBy("__lbl").agg(F.count(F.lit(1)).alias("n")).collect()}
            if inc and not d.detach:
                # any surviving incident edge → error (reference parity)
                raise ValueError(
                    f"vertices in {sorted(inc)[0]!r} still have edges; use DETACH DELETE")
            if inc:
                self.wctx.seed_locids(inc)
                g = self.wctx.graph
                vids = changeset(vdf.withColumnRenamed("id", "__vid"), n)
                for lbl, n_del in inc.items():
                    ef = g.frames[lbl]
                    self.wctx.remove(lbl, ef.join(
                        vids, (ef["start"] == F.col("__vid")) | (ef["end"] == F.col("__vid")),
                        "left_anti"))
                    self.wctx.stats.deletededges += n_del
                self.wctx.record_deleted("e", hit.select("id"), sum(inc.values()))
            self._remove_ids("v", vdf, n)

    def _remove_ids(self, kind: str, ids: DataFrame, n_rows: int) -> None:
        """Delete the ``kind`` elements with these ids (at most
        ``n_rows``) from their label frames, lazily, and count them."""
        counts = self._victim_label_counts(ids, kind)
        # seed from the frames as they were before the delete, so the
        # deleted ids are never handed out again
        self.wctx.seed_locids(counts)
        gone = changeset(ids.withColumnRenamed("id", "__gone"), n_rows)
        for lbl in counts:
            f = self.wctx.graph.frames[lbl]
            self.wctx.remove(lbl, f.join(gone, f["id"] == F.col("__gone"), "left_anti"))
        if kind == "v":
            self.wctx.stats.deletedvertices += sum(counts.values())
        else:
            self.wctx.stats.deletededges += sum(counts.values())
        self.wctx.record_deleted(kind, ids, n_rows)

    def _delete_expr_kind(self, e: A.Expr) -> str:
        """'v' or 'e' for an entity-valued DELETE expression."""
        x = e
        if isinstance(x, A.Index):
            x = x.base
        if isinstance(x, A.FuncCall):
            nm = x.name.lower()
            if nm in ("nodes", "vertices", "start_vertex", "end_vertex",
                      "startnode", "endnode"):
                return "v"
            if nm in ("relationships", "edges"):
                return "e"
        raise ValueError(
            "DELETE takes bound variables or entity-valued expressions "
            "(vertices(p)[i], start_vertex(r), ...)")

    def _victim_label_counts(self, victims: DataFrame, kind: str) -> dict[str, int]:
        """Per-label count of victim ids that still EXIST in their label
        frame — serves both label pruning and the deleted-stats counters.

        Victims come from a MATCH against the working graph, and only
        DELETE removes entities, so a victim is gone only when this
        statement already deleted it (DELETE a ... DELETE a,
        cypher_dml.sql:689-784). Those ids are dropped by an anti-join
        against the ids recorded as deleted (victim sets, and for DETACH
        the incident-edge query), never by re-scanning the rewritten
        frames. ONE groupBy over the victims' own labid bits (the label
        lives in the id's high bits) then yields exact counts."""
        cat = self.wctx.graph.catalog
        frames = self.wctx.graph.frames
        prior = self.wctx.deleted.get(kind)
        if prior is not None:
            victims = victims.join(changeset(*prior), "id", "left_anti")
        by_labid = {r["l"]: r["n"] for r in victims.groupBy(
            F.shiftrightunsigned(F.col("id"), LOCID_BITS).alias("l"))
            .agg(F.count(F.lit(1)).alias("n")).collect()}
        names = cat.vlabels() if kind == "v" else cat.elabels()
        return {n: by_labid[cat.labels[n].labid] for n in names
                if cat.labels[n].labid in by_labid and n in frames}

    def _incident_edges(self, vdf: DataFrame, n_rows: int) -> DataFrame | None:
        """``(id, __lbl)`` of the edges incident to the victim vertices
        ``vdf`` (at most ``n_rows``), over a tagged union of the edge
        frames (which already reflect this clause's explicit edge
        deletions, so nothing is double-counted)."""
        g = self.wctx.graph
        parts = [g.frames[n].select("id", "start", "end", F.lit(n).alias("__lbl"))
                 for n in g.catalog.elabels() if n in g.frames]
        if not parts:
            return None
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        vids = changeset(vdf.select(F.col("id").alias("__vid")), n_rows)
        return (u.join(vids, (u["start"] == F.col("__vid"))
                       | (u["end"] == F.col("__vid")), "left_semi")
                .select("id", "__lbl"))

    # ------------------------------------------------------------------
    # SET / REMOVE  (reference: execCypherSet.c:141 ExecSetGraph; `+=`
    # merge and `=` overwrite semantics; REMOVE nulls the property)
    # ------------------------------------------------------------------

    def _compile_set(self, s: A.SetClause | A.RemoveClause) -> None:
        self._begin_write()
        if self.df is None:
            raise ValueError("SET/REMOVE requires a preceding reading clause")
        # composite-valued path functions in SET values (e.g.
        # SET x.v = nodes(p)[1].prop) — same pre-join as projections
        self._materialize_path_composites(
            [it.value for it in s.items if getattr(it, "value", None) is not None])
        by_var: dict[str, list[A.SetItem]] = {}
        for it in s.items:
            if isinstance(it.target, A.Prop) and isinstance(it.target.base, A.Var):
                by_var.setdefault(it.target.base.name, []).append(it)
            elif isinstance(it.target, A.Var):
                by_var.setdefault(it.target.name, []).append(it)
            else:
                raise ValueError("SET target must be var.prop or var")
        for var, items in by_var.items():
            self._apply_set_var(var, items)

    def _apply_set_var(self, var: str, items: list[A.SetItem]) -> None:
        b = self.scope.require(var)
        if b.kind not in ("vertex", "edge"):
            raise ValueError(f"cannot SET on {b.kind} variable {var!r}")
        ec = self._ec()

        # assignments: mangled prop column -> Column (None = remove)
        assigns: dict[str, Column | None] = {}
        replace_all = False
        for it in items:
            if it.op == "remove":
                assigns[prop_col_name(it.target.key)] = None
                ec.col_overrides[f"{var}__{prop_col_name(it.target.key)}"] = F.lit(None)
            elif isinstance(it.target, A.Prop):
                if it.op == "add":
                    # reference: += exists for the whole map only
                    raise ValueError("+= operator on a property is not allowed")
                col = ec.col(it.value)
                assigns[prop_col_name(it.target.key)] = col
                # later items in the same SET list read this value
                ec.col_overrides[f"{var}__{prop_col_name(it.target.key)}"] = col
            else:  # whole-entity SET n = {...} / n = properties(m) / n += ...
                val = it.value
                if isinstance(val, A.Lit) and val.value is None:
                    raise ValueError(
                        "cannot set property map to NULL — use {} to "
                        "remove all properties")
                if not isinstance(val, A.MapLit):
                    # SET n = properties(m) copies another binding's map
                    # (execCypherSet.c whole-jsonb assignment); wrap so
                    # _eval_props expands it to static columns
                    val = A.MapLit([("__copy__", val)])
                if it.op == "set":
                    replace_all = True
                for k, vcol in self._eval_props(val):
                    assigns[prop_col_name(k)] = vcol
        if replace_all:
            for p in b.props:
                assigns.setdefault(p, None)

        # change-set: victim id + new values, one row per id (the
        # reference's enable_multiple_update keeps the last; we keep one)
        upd_cols = [F.col(f"{var}__id").alias("__uid_key")]
        names: list[str] = []
        for k, col in assigns.items():
            nm = f"__new_{k}"
            names.append(k)
            upd_cols.append((col if col is not None else F.lit(None)).alias(nm))
        updates, n_upd = materialize(
            self.df.select(*upd_cols).dropDuplicates(["__uid_key"]))

        cat = self.wctx.graph.catalog
        upd_schema = {f.name: f.dataType for f in updates.schema.fields}
        for lbl in b.labels:
            frame = self.wctx.graph.frames.get(lbl)
            if frame is None:
                continue  # label exists in the hierarchy but holds no rows
            meta = cat.labels[lbl]
            joined = frame.join(changeset(updates, n_upd),
                                frame["id"] == F.col("__uid_key"), "left")
            matched = F.col("__uid_key").isNotNull()
            out_cols: list[Column] = [frame["id"].alias("id")]
            if meta.kind == "e":
                out_cols += [frame["start"].alias("start"), frame["end"].alias("end")]
            handled = set()
            for p in meta.props:
                mc = prop_col_name(p)
                if mc in frame.columns:
                    old = frame[mc]
                elif mc in assigns:
                    old = F.lit(None)
                else:
                    continue
                if mc in assigns:
                    handled.add(mc)
                    out_cols.append(F.when(matched, F.col(f"__new_{mc}")).otherwise(old).alias(mc))
                else:
                    out_cols.append(old.alias(mc))
            for mc in assigns:
                if mc not in handled and prop_display_name(mc) not in meta.props:
                    out_cols.append(F.when(matched, F.col(f"__new_{mc}")).otherwise(F.lit(None)).alias(mc))
            self.wctx.update(lbl, joined.select(*out_cols))
            for p, col in assigns.items():
                if col is not None:
                    t = upd_schema[f"__new_{p}"].simpleString()
                    meta.props.setdefault(prop_display_name(p), "string" if t == "void" else t)

        # reflect into the pipeline so later clauses/RETURN see the new
        # values (reference: reflectModifiedProp, nodeModifyGraph.c:46)
        for p, col in assigns.items():
            self.df = self.df.withColumn(f"{var}__{p}", col if col is not None else F.lit(None))
            if p not in b.props and col is not None:
                b.props.append(p)
        self.wctx.stats.updatedproperties += n_upd * max(1, len(assigns))

    # ------------------------------------------------------------------
    # MERGE  (reference: execCypherMerge.c:35 ExecMergeGraph —
    # match-or-create per input row + ON CREATE / ON MATCH SET)
    # ------------------------------------------------------------------

    def _compile_merge(self, m: A.Merge) -> None:
        self._begin_write()
        first = self.df is None
        if first:
            self.df = self._ensure_df()
        else:
            self._materialize_path_composites(
                self._pattern_prop_exprs([m.pattern]))
            lim = getattr(self.engine, "sequential_merge_rows", 0) or 0
            if lim > 0:
                # fold order contract: rows fold in collect() order —
                # partition-major, positions preserved within each
                # partition. When the pipeline established an order
                # (ORDER BY in a preceding WITH), Spark's range-
                # partitioned sort makes that the GLOBAL order, so the
                # fold is order-faithful exactly when the query defined
                # one; otherwise row order is implementation-defined,
                # matching the reference (PG heap order without ORDER
                # BY is likewise arbitrary). A monotonically_increasing
                # _id sort would be a no-op here — it encodes the same
                # (partition, position) order collect() already returns
                # — so no index column is carried.
                rows = [tuple(r) for r in self.df.limit(lim + 1).collect()]
                if 1 < len(rows) <= lim:
                    return self._compile_merge_sequential(m, rows)
                acc = self._merge_accumulating_vars(m)
                if (len(rows) > lim and acc
                        and self._merge_rows_can_collide(m, acc)):
                    raise NotImplementedError(
                        "MERGE ... ON MATCH/ON CREATE SET reads the merge "
                        "variable's own properties/entity (per-input-row "
                        "accumulation, e.g. SET a.cnt = a.cnt + 1) over "
                        "input rows that can probe the SAME entity, and the "
                        f"input exceeds sequential_merge_rows={lim}: batch "
                        "execution applies SET once per statement and would "
                        "silently diverge from the reference's row-at-a-time "
                        "semantics (execCypherMerge.c:35). Raise "
                        "sequential_merge_rows or restructure the query.")
            else:
                acc = self._merge_accumulating_vars(m)
                if (acc and len(self.df.limit(2).collect()) > 1
                        and self._merge_rows_can_collide(m, acc)):
                    raise NotImplementedError(
                        "MERGE ... ON MATCH/ON CREATE SET reads the merge "
                        "variable's own properties/entity (per-input-row "
                        "accumulation, e.g. SET a.cnt = a.cnt + 1) over "
                        "input rows that can probe the SAME entity: batch "
                        "execution applies SET once per statement and "
                        "would silently diverge from the reference's "
                        "row-at-a-time semantics (execCypherMerge.c:35; "
                        "cypher_eager.sql:112-156). Opt in to the bounded "
                        "per-row fold with "
                        "CypherEngine(sequential_merge_rows=N).")
        self._compile_merge_batch(m, first)

    def _merge_accumulating_vars(self, m: A.Merge) -> set:
        """Compile-time detection of the self-referential MERGE
        accumulation shape — an ON MATCH/ON CREATE SET whose RHS reads
        a variable this MERGE itself binds, either a property
        (``SET a.cnt = a.cnt + 1``) or the whole entity
        (``SET a.snap = properties(a)``). Returns the set of merge-bound
        variable names so read. The analog of the reference's eagerness
        analysis (parse_graph.c:5641 ``assign_query_eager``): under
        row-at-a-time OLTP execution later input rows of the SAME
        statement observe earlier rows' updates, so batch-once SET can
        silently give a PG user a different answer — refuse loudly
        (or fold, under sequential_merge_rows) unless
        ``_merge_rows_can_collide`` proves the rows independent."""
        import dataclasses as _dc
        merge_vars = {el.var for el in m.pattern.elements
                      if getattr(el, "var", None)}
        if not merge_vars:
            return set()
        acc: set = set()

        def walk(e) -> None:
            # a bare Var read (inside any function/expression) reads the
            # entity's current properties just like a Prop chain does
            if isinstance(e, A.Var) and e.name in merge_vars:
                acc.add(e.name)
            if _dc.is_dataclass(e) and not isinstance(e, type):
                for f in _dc.fields(e):
                    v = getattr(e, f.name)
                    if isinstance(v, A.Expr):
                        walk(v)
                    elif isinstance(v, (list, tuple)):
                        for x in v:
                            if isinstance(x, A.Expr):
                                walk(x)
                            elif isinstance(x, tuple):
                                for y in x:
                                    if isinstance(y, A.Expr):
                                        walk(y)

        for it in (m.on_match + m.on_create):
            if it.value is not None:
                walk(it.value)
        return acc

    def _merge_rows_can_collide(self, m: A.Merge, acc_vars: set) -> bool:
        """False only when every accumulating variable's OWN pattern
        element carries a property map whose evaluated key tuple is
        DISTINCT across the input rows: then no two rows can probe (or
        create) the same entity for that variable, each entity's SET
        applies at most once, and batch equals row-at-a-time — the
        refusal would be a false positive (e.g. ``MERGE (a:v {no: x.no})
        ON MATCH SET a.cnt = a.cnt + 1`` over distinct x.no). A shared
        element (constant or absent key), an uncompilable key, or any
        duplicate/NULL key tuple stays conservative (True). Cost: one
        small aggregate per accumulating element, only on the already-
        suspicious shape."""
        for el in m.pattern.elements:
            var = getattr(el, "var", None)
            if var not in acc_vars:
                continue
            props = getattr(el, "props", None)
            items = getattr(props, "items", None) if props is not None else None
            if not items:
                return True
            try:
                ec = self._ec()
                cols = [ec.col(v) for _, v in items]
                r = (self.df
                     .select(*[c.alias(f"__k{i}")
                               for i, c in enumerate(cols)])
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.count_distinct(
                              *[F.col(f"__k{i}")
                                for i in range(len(cols))]).alias("d"))
                     .first())
            except Exception:
                return True
            # count_distinct drops NULL-keyed rows, so n != d also
            # catches NULL probe keys — conservative, as intended
            if r["n"] != r["d"]:
                return True
        return False

    def _compile_merge_sequential(self, m: A.Merge, rows: list) -> None:
        """Opt-in OLTP-fidelity MERGE (engine.sequential_merge_rows):
        fold the clause's input rows one at a time on the driver so
        each row's match phase observes earlier rows' creations AND
        ON MATCH/ON CREATE property updates within the same clause —
        the reference's per-row accumulation (execCypherMerge.c:35;
        cypher_eager.sql:112-156, e.g. ON MATCH SET cnt = cnt + 1
        counting earlier input rows of the SAME statement).

        Driver-side by construction: only taken when the input frame
        is at most ``sequential_merge_rows`` rows. Batch mode (the
        default) stays the scale path; this exists to reproduce
        row-at-a-time transactional semantics where fidelity matters
        more than throughput."""
        spark = self.df.sparkSession
        schema = self.df.schema
        base_scope = self.scope
        outs: list[DataFrame] = []
        final_scope = None
        for r in rows:
            # each row compiles against the PRE-merge scope (the merge
            # vars must not look outer-bound on later rows) but the
            # CURRENT working graph, which earlier rows just mutated
            self.scope = base_scope.copy()
            self.df = spark.createDataFrame([r], schema)
            self._compile_merge_batch(m, first=False)
            outs.append(self.df)
            final_scope = self.scope
        self.scope = final_scope
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o, allowMissingColumns=True)
        self.df = out

    def _compile_merge_batch(self, m: A.Merge, first: bool) -> None:
        pat = m.pattern
        # Undirected MERGE rels: the MATCH phase scans both orientations
        # (the pattern compiler's genEdgeUnion path); when nothing
        # matches, the CREATE phase instantiates left→right — the
        # reference's behavior (cypher_dml.out 'unspecified direction':
        # startnode is the left endpoint). Normalize the CREATE copy.
        if any(isinstance(el, A.RelPat) and el.direction == "undir"
               for el in pat.elements):
            import dataclasses as _dc
            pat = _dc.replace(pat, elements=[
                _dc.replace(el, direction="out")
                if isinstance(el, A.RelPat) and el.direction == "undir" else el
                for el in pat.elements])
            pat_match = m.pattern  # undirected: both orientations match
        else:
            pat_match = pat

        # labels mentioned by the pattern are auto-created (as in the
        # CREATE path) so the match phase scans them as empty
        cat = self.wctx.graph.catalog
        for el in pat.elements:
            if isinstance(el, A.NodePat):
                for lbl in el.labels:
                    if lbl not in cat.labels:
                        cat.create_vlabel(lbl)
            elif isinstance(el, A.RelPat):
                for t in el.types:
                    if t not in cat.labels:
                        cat.create_elabel(t)

        # Property constraints referencing pipeline variables (e.g.
        # `UNWIND ... AS nm MERGE (n:nation {n_name: nm})`) cannot be
        # evaluated inside the standalone pattern compile — lift them out
        # of the match pattern and re-apply as per-row join equalities
        # (the reference matches MERGE's pattern once per input row:
        # execCypherMerge.c:35). The CREATE branch keeps the original
        # pattern, so created elements still get the lifted properties.
        outer_vars = set(self.scope.bindings)
        lifted: list[tuple[str, str, A.Expr]] = []  # (el_var, prop_key, expr)
        match_pat = pat_match
        if not first and outer_vars:
            new_elements = []
            for el in pat_match.elements:
                props = getattr(el, "props", None)
                keep_items = []
                if props is not None and el.var:
                    for key, val in props.items:
                        refs = self._vars_in(val)
                        if refs & outer_vars:
                            lifted.append((el.var, key, val))
                        else:
                            keep_items.append((key, val))
                if lifted and props is not None and len(keep_items) < len(props.items):
                    el = _copy.copy(el)
                    el.props = A.MapLit(keep_items) if keep_items else None
                new_elements.append(el)
            if lifted:
                match_pat = _copy.copy(pat_match)
                match_pat.elements = new_elements

        # 1. try to match the whole pattern against the working graph
        shared = self._pattern_shared_vars([pat])
        sub_av = self._compile_pattern_standalone([match_pat], None, shared)
        right, rscope, renames = sub_av
        cond: Column | None = None
        for v, tmp in renames.items():
            c = F.col(f"{v}__id") == F.col(f"{tmp}__id")
            cond = c if cond is None else (cond & c)
        if lifted:
            ec = self._ec()
            for el_var, key, val in lifted:
                prefix = renames.get(el_var, el_var)
                pcol = f"{prefix}__{prop_col_name(key)}"
                if pcol in right.columns:
                    c = F.col(pcol) == ec.col(val)
                else:
                    # label frame has no such property column (fresh or
                    # auto-created label) → nothing can match; every row
                    # falls through to the create branch
                    c = F.lit(False)
                cond = c if cond is None else (cond & c)
        probe_col = next(
            (f"{b.var}__id" for b in rscope.bindings.values()
             if b.var not in renames and b.kind in ("vertex", "edge")),
            None)
        if probe_col is None:
            raise ValueError("MERGE pattern introduces no new variable")
        joined = self.df.join(right, cond if cond is not None else F.lit(True), "left")
        joined = joined.drop(*[c for tmp in renames.values()
                               for c in right.columns if c.startswith(f"{tmp}__")])
        joined = joined.localCheckpoint(eager=True)
        matched = joined.filter(F.col(probe_col).isNotNull())
        missing = joined.filter(F.col(probe_col).isNull()) \
                        .drop(*[c for c in right.columns if c in joined.columns])

        new_bindings = {v: b for v, b in rscope.bindings.items()
                        if v not in renames and self.scope.get(v) is None}

        # 2. create the pattern for rows that found no match; distinct
        # on the creation key so concurrent duplicates collapse
        # (single-writer batch + dedup-before-append)
        created: DataFrame | None = None
        has_missing = bool(missing.take(1))
        if has_missing:
            sub = self._spawn_subcompiler()
            key_cols = [f"{v}__id" for v in renames]
            tmp_keys: list[str] = []
            if lifted:
                # the creation key includes the lifted outer property
                # values: one node per distinct value, not one total
                ec = self._ec()
                for i, (_, _, val) in enumerate(lifted):
                    missing = missing.withColumn(f"__mergekey_{i}", ec.col(val))
                    tmp_keys.append(f"__mergekey_{i}")
            merge_keys = key_cols + tmp_keys
            # Create ONE element per distinct merge key, then join the
            # created bindings back to ALL missing rows: MERGE is
            # per-input-row match-or-create, so duplicate inputs each
            # yield an output row bound to the same created element
            # (reference: execCypherMerge.c:35).
            miss_in = (missing.dropDuplicates(merge_keys) if merge_keys
                       else missing.limit(1))
            sub.df = miss_in
            sub.scope = self.scope.copy()
            sub.wctx = self.wctx
            # a leading MERGE probes with the one seed row: at most one
            # row misses, and miss_in is that row
            sub._compile_create(A.Create([pat]), single_row=first)
            if m.on_create:
                sub._compile_set(A.SetClause(m.on_create))
            for v, b in sub.scope.bindings.items():
                if self.scope.get(v) is None and v not in new_bindings:
                    new_bindings[v] = b
            new_cols = [c for c in sub.df.columns
                        if any(c.startswith(f"{v}__") for v in new_bindings)]
            if merge_keys:
                rep = sub.df.select(
                    *[F.col(k).alias(f"__ck_{i}") for i, k in enumerate(merge_keys)],
                    *new_cols)
                cond = None
                for i, k in enumerate(merge_keys):
                    c = F.col(k).eqNullSafe(F.col(f"__ck_{i}"))
                    cond = c if cond is None else (cond & c)
                created = (missing.join(rep, cond, "inner")
                           .drop(*[f"__ck_{i}" for i in range(len(merge_keys))])
                           .drop(*tmp_keys))
            else:
                # keyless pattern: a single created element fans out to
                # every missing input row
                created = missing.crossJoin(F.broadcast(sub.df.select(*new_cols)))

        # a leading MERGE either matched or missed its one seed row
        if m.on_match and (not has_missing if first else matched.take(1)):
            sub = self._spawn_subcompiler()
            sub.df = matched
            sub.scope = self.scope.copy()
            for v, b in new_bindings.items():
                sub.scope.bind(b)
            sub.wctx = self.wctx
            sub._compile_set(A.SetClause(m.on_match))
            matched = sub.df

        for v, b in new_bindings.items():
            self.scope.bind(b)
        if created is not None:
            matched_cols = set(matched.columns)
            created = created.select(*[c for c in created.columns if c in matched_cols
                                       or any(c.startswith(f"{v}__") for v in new_bindings)])
            self.df = matched.unionByName(created, allowMissingColumns=True)
        else:
            self.df = matched

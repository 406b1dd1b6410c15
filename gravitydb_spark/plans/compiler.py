"""AST → DataFrame compiler (the reference's recursive interpreter,
re-expressed as a Catalyst plan).

The reference walks the AST bottom-up, materializing a ``HashMap<id, ctx>``
at every step with per-element point reads (N+1 loops,
kv_graph_store.rs:139-305). Here every AST node becomes a DataFrame
transform over the graph's four tables, so the *whole query* is one lazy
plan: Catalyst pushes property filters into the parquet scan, prunes
columns, picks broadcast joins for the (tiny) property-index side, and
whole-stage-codegens the chain. Traversals are frontier-at-a-time joins
instead of element-at-a-time point reads.

Frontier representation:

- vertex frontier: ``id, path, start``
- edge frontier:   ``id, src, dst, path, start``

``path`` is ``array<struct<v,e>>`` — the (vertex, edge) hops so far
(VertexQueryContext/EdgeQueryContext, ql.rs:246-352); ``start`` is the
edge id when the chain started at an edge leaf (EdgeQueryContext::new sets
``start = Some(id)``, ql.rs:325-331).

Path multiplicity: the reference keeps ONE arbitrary context per reached id
(HashMap insert; author-acknowledged flaw, docs/key_value_store.adoc:1547).
We keep ALL distinct paths; result *sets* (vertices/edges) are defined by
distinct id, so set results match the reference deterministically while
paths are a deterministic superset (SURVEY.md §7 hard-part 2).

Set-op context semantics mirror the helpers at kv_graph_store.rs:875-936:
Intersect/Substract keep the left side's contexts (left-semi / left-anti
joins). DisjunctiveUnion implements the DOCUMENTED symmetric difference
(docs/query_language.adoc:461-474) — the reference's helper computes an
intersection instead (untested, acknowledged bug).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..graph import PropertyGraph, local_frame
from ..ql import (
    BasicQuery,
    EdgeQuery,
    ExprFilter,
    PandasFilter,
    PropertyQuery,
    ShellFilter,
    VertexQuery,
)

__all__ = ["execute", "QueryResult"]

PATH_TYPE = "array<struct<v:string,e:string>>"


def _empty_path() -> F.Column:
    return F.lit(None).cast(PATH_TYPE).alias("path")


def _null_start() -> F.Column:
    return F.lit(None).cast("string").alias("start")


_V_COLS = ["id", "path", "start"]
_E_COLS = ["id", "src", "dst", "path", "start"]


@dataclass
class _Compiled:
    """A compiled sub-query: the frontier plus Store side-effect sets."""

    frontier: DataFrame
    v_store: Optional[DataFrame] = None  # DF[id]
    e_store: Optional[DataFrame] = None  # DF[id]


# above this optimizer-estimated size, pin shared subtrees with
# localCheckpoint (lineage cut, partitions on executor-local disk) instead
# of cache (block-manager memory+disk) — estimates are coarse upper bounds,
# so this only redirects genuinely join-amplified frontiers
_PIN_MAX_CACHE_BYTES = 8 * 1024**3


def _pin(df: DataFrame) -> DataFrame:
    """Make a shared plan subtree a reusable leaf (plans are trees, not
    DAGs — an unpinned reuse re-executes the whole branch at every use
    site). Cache when small, localCheckpoint when the optimizer's size
    estimate says caching twice would pressure executor memory."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # estimation unavailable — default to cache
        size = -1
    if 0 <= _PIN_MAX_CACHE_BYTES < size:
        return df.localCheckpoint(eager=False)
    df.cache()
    return df


def _merge_store(a: Optional[DataFrame], b: Optional[DataFrame]) -> Optional[DataFrame]:
    if a is None:
        return b
    if b is None:
        return a
    return a.unionByName(b).distinct()


class _Compiler:
    """Compiles with per-query memoization: identical AST subtrees (the
    queries are frozen dataclasses, so hashable by value) compile to the
    SAME DataFrame object → identical logical subplans → Spark's
    ReusedExchange kicks in at the physical level instead of re-running
    shared branches (common in set-op trees, e.g. A∪B △ B∪C)."""

    def __init__(self, graph: PropertyGraph):
        self.g = graph
        self._memo_v: dict = {}
        self._memo_e: dict = {}
        self._memo_p: dict = {}

    # -- property queries → DF[prop_hash] -----------------------------------

    def compile_pq(self, q: PropertyQuery) -> DataFrame:
        if q not in self._memo_p:
            self._memo_p[q] = self._compile_pq(q)
        else:
            # second use: make the shared subtree a cached leaf — Spark
            # logical plans are trees, so an uncached reuse would inline
            # (and re-execute) the whole branch at every use site
            self._memo_p[q].cache()
        return self._memo_p[q]

    @staticmethod
    def _pq_predicate(q, col: str = "prop_hash") -> Optional[F.Column]:
        """Literal property probes (Specific / FromTo) compile to a
        pushed-down predicate instead of a broadcast semi-join: no
        broadcast-build job per probe, and the equality/range predicate
        reaches the parquet scan (PushedFilters). At 100 TB this turns a
        probe into a footer-pruned point read; at gate scale it collapses
        ~10 scheduler round-trips per traversal into zero."""
        if q.kind == "Specific":
            return F.col(col) == q.args[0]
        if q.kind == "FromTo":
            return F.col(col).between(q.args[0], q.args[1])
        return None

    def _compile_pq(self, q: PropertyQuery) -> DataFrame:
        p = self.g.properties
        r = self.g.prop_refs
        if q.kind == "Specific":
            # existence probe (kv_graph_store.rs:328-335)
            return p.filter(F.col("prop_hash") == q.args[0]).select("prop_hash")
        if q.kind == "FromTo":
            lo, hi = q.args
            # range predicate — pushed down to the parquet scan
            return p.filter(F.col("prop_hash").between(lo, hi)).select("prop_hash")
        if q.kind == "ReferencingProperties":
            # parents that nest any of ``inner`` (backlinks ref_kind='prop')
            pred = self._pq_predicate(q.args[0])
            if pred is not None:
                return (
                    r.filter((F.col("ref_kind") == "prop") & pred)
                    .select(F.col("ref_id").alias("prop_hash"))
                    .distinct()
                )
            inner = self.compile_pq(q.args[0])
            return (
                r.filter(F.col("ref_kind") == "prop")
                .join(F.broadcast(inner), "prop_hash", "leftsemi")
                .select(F.col("ref_id").alias("prop_hash"))
                .distinct()
            )
        if q.kind == "ReferencedProperties":
            # inverse lookup — reference stubs this to empty
            # (kv_graph_store.rs:348-351); implemented per the AST docs.
            pred = self._pq_predicate(q.args[0], col="ref_id")
            if pred is not None:
                return (
                    r.filter((F.col("ref_kind") == "prop") & pred)
                    .select("prop_hash")
                    .distinct()
                )
            inner = self.compile_pq(q.args[0])
            return (
                r.filter(F.col("ref_kind") == "prop")
                .join(
                    F.broadcast(inner.select(F.col("prop_hash").alias("ref_id"))),
                    "ref_id",
                    "leftsemi",
                )
                .select("prop_hash")
                .distinct()
            )
        raise ValueError(f"unknown PropertyQuery kind: {q.kind}")

    # -- shared element-query plumbing --------------------------------------

    def _prop_leaf_ids(self, q, element: str) -> Optional[DataFrame]:
        """Peephole: a Property leaf used only as a set-op KEY SET doesn't
        need its full frontier (which joins the edges table for src/dst) —
        the prop_refs backlinks ARE the id set. Saves one join per filtered
        traversal (`.outgoing(filter)` compiles to Intersect(..., Property))."""
        if getattr(q, "kind", None) != "Property":
            return None
        ref_kind = "node" if element == "v" else "edge"
        pred = self._pq_predicate(q.args[0])
        if pred is not None:
            return (
                self.g.prop_refs.filter((F.col("ref_kind") == ref_kind) & pred)
                .select(F.col("ref_id").alias("id"))
            )
        props = self.compile_pq(q.args[0])
        return (
            self.g.prop_refs.filter(F.col("ref_kind") == ref_kind)
            .join(F.broadcast(props), "prop_hash", "leftsemi")
            .select(F.col("ref_id").alias("id"))
        )

    def _set_op(
        self,
        kind: str,
        a: _Compiled,
        b: _Compiled,
        qb=None,
        element: str = "v",
    ) -> DataFrame:
        fa, fb = a.frontier, b.frontier
        # semi/anti joins ignore right-side duplicates — no distinct needed
        ka = fa.select("id")
        kb = fb.select("id")
        if qb is not None:
            kb_direct = self._prop_leaf_ids(qb, element)
            if kb_direct is not None and kind in ("Intersect", "Substract"):
                kb = kb_direct
        if kind == "Union":
            return fa.unionByName(fb)
        if kind == "Intersect":
            return fa.join(kb, "id", "leftsemi")
        if kind == "Substract":
            return fa.join(kb, "id", "leftanti")
        if kind == "DisjunctiveUnion":
            # each side appears twice (frontier + key-set) — pin both so the
            # doubled tree references a leaf, not a re-executed branch.
            # Size-aware: small frontiers cache (memory+disk); frontiers the
            # optimizer estimates beyond the threshold localCheckpoint
            # instead, so a 100 TB frontier doesn't occupy block-manager
            # memory twice (SCALE.md §2).
            fa = _pin(fa)
            fb = _pin(fb)
            ka, kb = fa.select("id"), fb.select("id")
            return fa.join(kb, "id", "leftanti").unionByName(fb.join(ka, "id", "leftanti"))
        raise ValueError(kind)

    def _apply_filter(self, frontier: DataFrame, flt, element: str, cols: list[str]) -> DataFrame:
        """Join the frontier to its elements' property payloads and filter.

        Replaces the never-executed ShellFilter (kv_graph_store.rs:208,301)
        with in-plan predicates: ExprFilter stays JVM-side (codegen),
        PandasFilter is Arrow-batched. We never shell out per element.
        """
        if isinstance(flt, ShellFilter):
            raise NotImplementedError(
                "ShellFilter is wire-compat only (the reference never executes "
                "it either); use ExprFilter or PandasFilter"
            )
        table = self.g.vertices if element == "v" else self.g.edges
        key = "id" if element == "v" else "edge_id"
        elem = table.select(F.col(key).alias("id"), "prop_hash")
        enriched = (
            frontier.join(elem, "id", "left")
            .join(
                self.g.properties.select("prop_hash", "value", "schema_type"),
                "prop_hash",
                "left",
            )
        )
        import inspect

        from ..ql import FilterContext

        # a filter "wants" the context iff it REQUIRES a third positional
        # argument — defaulted/keyword/var params don't opt in (a 2-arg
        # filter with an option like `strict=False` must not silently
        # receive the FilterContext as its option)
        try:
            params = inspect.signature(flt.fn).parameters.values()
            wants_ctx = (
                sum(
                    1
                    for p in params
                    if p.kind
                    in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
                    and p.default is p.empty
                )
                >= 3
            )
        except (ValueError, TypeError):  # C-implemented callables
            wants_ctx = False
        if isinstance(flt, ExprFilter):
            if wants_ctx:
                # documented filter contract (query_language.adoc:536-543):
                # the program sees the element id, the path so far, the
                # start edge, and the side-effect variables
                ctx = FilterContext(
                    id=F.col("id"),
                    path=F.coalesce(F.col("path"), F.lit([]).cast(PATH_TYPE)),
                    start=F.col("start"),
                    variables={},
                )
                keep = flt.fn(F.col("value"), F.col("schema_type"), ctx)
            else:
                keep = flt.fn(F.col("value"), F.col("schema_type"))
        elif isinstance(flt, PandasFilter):
            from pyspark.sql.functions import pandas_udf

            if wants_ctx:
                user_fn = flt.fn

                def _with_ctx(value, schema_type, ids, paths, starts):
                    return user_fn(
                        value,
                        schema_type,
                        FilterContext(id=ids, path=paths, start=starts, variables={}),
                    )

                udf = pandas_udf(_with_ctx, "boolean")
                keep = udf(
                    F.col("value"),
                    F.col("schema_type"),
                    F.col("id"),
                    F.coalesce(F.col("path"), F.lit([]).cast(PATH_TYPE)),
                    F.col("start"),
                )
            else:
                udf = pandas_udf(flt.fn, "boolean")
                keep = udf(F.col("value"), F.col("schema_type"))
        else:
            raise TypeError(f"unsupported filter: {type(flt).__name__}")
        return enriched.filter(keep).select(*cols)

    # -- vertex queries → _Compiled(vertex frontier) -------------------------

    def compile_vq(self, q: VertexQuery) -> _Compiled:
        if q not in self._memo_v:
            self._memo_v[q] = self._compile_vq(q)
        else:
            self._memo_v[q].frontier.cache()  # see compile_pq note
        return self._memo_v[q]

    def _compile_vq(self, q: VertexQuery) -> _Compiled:
        g = self.g
        if q.kind == "All":
            return _Compiled(g.vertices.select("id", _empty_path(), _null_start()))
        if q.kind == "Specific":
            df = local_frame(g.spark, [(i,) for i in q.args[0]], "id string")
            # the reference builds contexts without a store lookup
            # (kv_graph_store.rs:151-155) — nonexistent ids pass through
            return _Compiled(df.select("id", _empty_path(), _null_start()))
        if q.kind == "Property":
            # no distinct: a vertex has exactly ONE direct property, so its
            # node-backlink appears once per semi-join match
            pred = self._pq_predicate(q.args[0])
            if pred is not None:  # literal probe → pushed-down scan predicate
                frontier = g.prop_refs.filter(
                    (F.col("ref_kind") == "node") & pred
                ).select(F.col("ref_id").alias("id"), _empty_path(), _null_start())
                return _Compiled(frontier)
            props = self.compile_pq(q.args[0])
            frontier = (
                g.prop_refs.filter(F.col("ref_kind") == "node")
                .join(F.broadcast(props), "prop_hash", "leftsemi")
                .select(F.col("ref_id").alias("id"), _empty_path(), _null_start())
            )
            return _Compiled(frontier)
        if q.kind in ("Union", "Intersect", "Substract", "DisjunctiveUnion"):
            a, b = self.compile_vq(q.args[0]), self.compile_vq(q.args[1])
            return _Compiled(
                self._set_op(q.kind, a, b, q.args[1], "v"),
                _merge_store(a.v_store, b.v_store),
                _merge_store(a.e_store, b.e_store),
            )
        if q.kind == "Out":
            # target vertices (n2) of the edge frontier (kv_graph_store.rs:192-199)
            c = self.compile_eq(q.args[0])
            return _Compiled(
                c.frontier.select(F.col("dst").alias("id"), "path", "start"),
                c.v_store,
                c.e_store,
            )
        if q.kind == "In":
            c = self.compile_eq(q.args[0])
            return _Compiled(
                c.frontier.select(F.col("src").alias("id"), "path", "start"),
                c.v_store,
                c.e_store,
            )
        if q.kind == "Filter":
            c = self.compile_vq(q.args[0])
            return _Compiled(
                self._apply_filter(c.frontier, q.args[1], "v", _V_COLS),
                c.v_store,
                c.e_store,
            )
        if q.kind == "Store":
            # documented semantics (query_language.adoc:662-695): stash the
            # current selection; a later Store replaces it ("old selection
            # will be lost"). Declared-but-unreachable in the reference.
            c = self.compile_vq(q.args[0])
            return _Compiled(c.frontier, c.frontier.select("id").distinct(), c.e_store)
        raise ValueError(f"unknown VertexQuery kind: {q.kind}")

    # -- edge queries → _Compiled(edge frontier) ------------------------------

    def compile_eq(self, q: EdgeQuery) -> _Compiled:
        if q not in self._memo_e:
            self._memo_e[q] = self._compile_eq(q)
        else:
            self._memo_e[q].frontier.cache()  # see compile_pq note
        return self._memo_e[q]

    def _compile_eq(self, q: EdgeQuery) -> _Compiled:
        g = self.g
        if q.kind == "All":
            return _Compiled(
                g.edges.select(
                    F.col("edge_id").alias("id"),
                    "src",
                    "dst",
                    _empty_path(),
                    F.col("edge_id").alias("start"),
                )
            )
        if q.kind == "Specific":
            df = local_frame(g.spark, [(i,) for i in q.args[0]], "id string")
            # left join: unknown edge ids still appear in the result set
            # (contexts are built without a lookup, kv_graph_store.rs:229-233)
            frontier = (
                df.join(g.edges, df.id == g.edges.edge_id, "left")
                .select("id", "src", "dst", _empty_path(), F.col("id").alias("start"))
            )
            return _Compiled(frontier)
        if q.kind == "Property":
            # no distinct: an edge has exactly one direct property
            pred = self._pq_predicate(q.args[0])
            if pred is not None:  # literal probe → pushed-down scan predicate
                eids = g.prop_refs.filter(
                    (F.col("ref_kind") == "edge") & pred
                ).select(F.col("ref_id").alias("edge_id"))
            else:
                props = self.compile_pq(q.args[0])
                eids = (
                    g.prop_refs.filter(F.col("ref_kind") == "edge")
                    .join(F.broadcast(props), "prop_hash", "leftsemi")
                    .select(F.col("ref_id").alias("edge_id"))
                )
            frontier = g.edges.join(eids, "edge_id", "leftsemi").select(
                F.col("edge_id").alias("id"),
                "src",
                "dst",
                _empty_path(),
                F.col("edge_id").alias("start"),
            )
            return _Compiled(frontier)
        if q.kind in ("Union", "Intersect", "Substract", "DisjunctiveUnion"):
            a, b = self.compile_eq(q.args[0]), self.compile_eq(q.args[1])
            return _Compiled(
                self._set_op(q.kind, a, b, q.args[1], "e"),
                _merge_store(a.v_store, b.v_store),
                _merge_store(a.e_store, b.e_store),
            )
        if q.kind == "Out":
            # edges whose source is in the vertex frontier
            # (vertex.outgoing, kv_graph_store.rs:271-285); the hop is
            # appended to the path (into_edge_ctx, ql.rs:281-302)
            c = self.compile_vq(q.args[0])
            v = c.frontier
            e = g.edges
            joined = v.join(e, v.id == e.src)
            return _Compiled(self._hop_to_edges(joined), c.v_store, c.e_store)
        if q.kind == "In":
            c = self.compile_vq(q.args[0])
            v = c.frontier
            e = g.edges
            joined = v.join(e, v.id == e.dst)
            return _Compiled(self._hop_to_edges(joined), c.v_store, c.e_store)
        if q.kind == "Filter":
            c = self.compile_eq(q.args[0])
            return _Compiled(
                self._apply_filter(c.frontier, q.args[1], "e", _E_COLS),
                c.v_store,
                c.e_store,
            )
        if q.kind == "Store":
            c = self.compile_eq(q.args[0])
            return _Compiled(c.frontier, c.v_store, c.frontier.select("id").distinct())
        raise ValueError(f"unknown EdgeQuery kind: {q.kind}")

    @staticmethod
    def _hop_to_edges(joined: DataFrame) -> DataFrame:
        """vertex frontier ⋈ edges → edge frontier, appending (v, e) to path."""
        hop = F.struct(F.col("id").alias("v"), F.col("edge_id").alias("e"))
        new_path = F.when(
            F.col("path").isNull(), F.array(hop)
        ).otherwise(F.concat(F.col("path"), F.array(hop)))
        return joined.select(
            F.col("edge_id").alias("id"),
            "src",
            "dst",
            new_path.cast(PATH_TYPE).alias("path"),
            "start",
        )


# ---------------------------------------------------------------------------
# Results
# ---------------------------------------------------------------------------


@dataclass
class QueryResult:
    """Bundle of result DataFrames (QueryResult, ql.rs:360-374).

    - ``vertices``: DF[id] — matched vertex ids (+ Store'd vertices)
    - ``edges``: DF[id] — matched edge ids (+ Store'd edges)
    - ``paths``: DF[start, path, end]
    - ``properties``: DF[prop_hash] — for top-level P queries (the reference
      stubs these to empty, kv_graph_store.rs:307-317; we return matches)
    - ``variables``: pass-through map (no writer exists in the reference)
    """

    graph: PropertyGraph
    vertices: DataFrame
    edges: DataFrame
    paths: DataFrame
    properties: Optional[DataFrame] = None
    variables: dict = field(default_factory=dict)

    # -- extract_properties (kv_graph_store.rs:96-106) -----------------------

    def extract_properties(self) -> DataFrame:
        """Property payloads of matched vertices then edges: DF[kind, id,
        prop_hash, schema_type, value, tagged]."""
        g = self.graph
        v = (
            self.vertices.join(g.vertices, "id")
            .join(g.properties, "prop_hash")
            .select(
                F.lit("v").alias("kind"),
                "id",
                "prop_hash",
                "schema_type",
                "value",
                "tagged",
            )
        )
        e = (
            self.edges.join(g.edges, self.edges.id == g.edges.edge_id)
            .join(g.properties, "prop_hash")
            .select(
                F.lit("e").alias("kind"),
                F.col("edge_id").alias("id"),
                "prop_hash",
                "schema_type",
                "value",
                "tagged",
            )
        )
        return v.unionByName(e)

    # -- extract_path_properties (kv_graph_store.rs:108-137) ----------------

    def extract_path_properties(self) -> DataFrame:
        """One row per path with ``props: array<string>`` of tagged-JSON
        property values: ``[startProp?] ++ [vProp, eProp]* ++ [endProp?]``.

        The reference inserts start/end *inside* its per-hop fold
        (kv_graph_store.rs:119-131), so an empty path yields [] even when
        start/end are set, and multi-hop paths would duplicate start/end;
        its tests only exercise 0- and 1-hop paths. We reproduce the tested
        behavior (empty path → []) and the sane ordering for multi-hop.
        """
        g = self.graph
        v_props = g.vertices.join(g.properties, "prop_hash").select(
            F.col("id").alias("_vid"), F.col("tagged").alias("_v_tagged")
        )
        e_props = g.edges.join(g.properties, "prop_hash").select(
            F.col("edge_id").alias("_eid"), F.col("tagged").alias("_e_tagged")
        )

        paths = self.paths.withColumn(
            "_pid", F.monotonically_increasing_id()
        ).cache()

        steps = (
            paths.select("_pid", F.posexplode("path").alias("pos", "step"))
            .join(v_props, F.col("step.v") == F.col("_vid"), "left")
            .join(e_props, F.col("step.e") == F.col("_eid"), "left")
            .groupBy("_pid")
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("pos"),
                                    F.array("_v_tagged", "_e_tagged").alias("pair"),
                                )
                            )
                        ),
                        lambda s: s.pair,
                    )
                ).alias("step_props")
            )
        )

        start_props = e_props.select(
            F.col("_eid").alias("start"), F.col("_e_tagged").alias("_start_tagged")
        )
        end_props = v_props.select(
            F.col("_vid").alias("end"), F.col("_v_tagged").alias("_end_tagged")
        )

        out = (
            paths.join(steps, "_pid", "left")
            .join(start_props, "start", "left")
            .join(end_props, "end", "left")
            .withColumn(
                "props",
                F.when(
                    F.col("path").isNull() | (F.size("path") == 0),
                    F.array().cast("array<string>"),
                ).otherwise(
                    F.concat(
                        F.when(
                            F.col("_start_tagged").isNotNull(),
                            F.array("_start_tagged"),
                        ).otherwise(F.array().cast("array<string>")),
                        F.col("step_props"),
                        F.when(
                            F.col("_end_tagged").isNotNull(), F.array("_end_tagged")
                        ).otherwise(F.array().cast("array<string>")),
                    )
                ),
            )
        )
        return out.select("start", "path", "end", "props")


def execute(graph: PropertyGraph, query) -> QueryResult:
    """Compile + wrap. ``query`` may be a BasicQuery or any of the three
    query families (auto-dispatched like kv_graph_store.rs:79-94)."""
    q = BasicQuery.of(query)
    comp = _Compiler(graph)
    spark = graph.spark
    empty_ids = local_frame(spark, [], "id string")

    if q.kind == "V":
        c = comp.compile_vq(q.query)
        ids = c.frontier.select("id").distinct()
        vertices = _merge_store(ids, c.v_store) if c.v_store is not None else ids
        edges = c.e_store if c.e_store is not None else empty_ids
        # all distinct paths (deterministic superset of the reference's
        # one-arbitrary-path-per-id, SURVEY.md §7 hard-part 2)
        paths = c.frontier.select(
            "start", "path", F.col("id").alias("end")
        ).dropDuplicates()
        return QueryResult(graph, vertices, edges, paths)
    if q.kind == "E":
        c = comp.compile_eq(q.query)
        ids = c.frontier.select("id").distinct()
        edges = _merge_store(ids, c.e_store) if c.e_store is not None else ids
        vertices = c.v_store if c.v_store is not None else empty_ids
        paths = c.frontier.select(
            "start", "path", F.lit(None).cast("string").alias("end")
        ).dropDuplicates()
        return QueryResult(graph, vertices, edges, paths)
    if q.kind == "P":
        props = comp.compile_pq(q.query).distinct()
        empty_paths = local_frame(
            spark, [], f"start string, path {PATH_TYPE.replace(':', ' ')}, end string"
        )
        return QueryResult(graph, empty_ids, empty_ids, empty_paths, properties=props)
    raise ValueError(f"unknown BasicQuery kind: {q.kind}")

"""The property graph as four DataFrames + batch-first CRUD.

Storage mapping (SURVEY.md §1.3; reference layout at
docs/key_value_store.adoc:14-33, kv_graph_store.rs:791-847):

- ``vertices(id, prop_hash)`` — adjacency is NOT materialized on the vertex
  (the reference keeps mutable incoming/outgoing sets on each node record,
  kv_graph_store.rs:798-802); in Spark adjacency is derived from ``edges``
  by an equi-join, which avoids mutable state and lets Catalyst pick the
  join strategy.
- ``edges(edge_id, src, dst, prop_hash)`` — directed, content-addressed id
  (duplicate same-endpoints+props edges collapse, kv_graph_store.rs:832-835).
- ``properties(prop_hash, schema_type, value, tagged)`` — content-addressed,
  deduplicated, immutable (docs/key_value_store.adoc:59-75). ``value`` is
  the canonical-JSON payload, ``tagged`` the externally-tagged form used
  for golden comparisons.
- ``prop_refs(prop_hash, ref_kind, ref_id)`` — the inverted property index
  *and* the GC refcount, replacing the reference's ``indexes/<hash>/...``
  backlink tree (kv_graph_store.rs:372-404). ``ref_kind ∈ {node,edge,prop}``,
  ``ref_id`` = the referencing element.

Mutations are batch-first and functional: every CRUD call returns a new
``PropertyGraph`` whose DataFrames are lazy transforms over the old ones.
The observable end-state matches the reference's per-op upkeep; property GC
runs as an explicit refcount job (``gc()``) instead of per-op refcounting —
the right trade at scale (SURVEY.md §7 hard-part 4).

Divergence (implemented per-doc, flagged): ``delete_nodes`` cascades
incident edges as the docs intend (docs/key_value_store.adoc:543-544); the
reference code leaves dangling edges (kv_graph_store.rs:584-602).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from typing import Iterable, Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .hashing import canonical_json, edge_hash, tagged_property
from .schema import DEFAULT_SCHEMA, Prop, Schema

__all__ = ["PropertyGraph", "GraphBatchBuilder", "NodeExistsError", "local_frame"]

VERTICES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("prop_hash", T.StringType(), False),
    ]
)
EDGES_SCHEMA = T.StructType(
    [
        T.StructField("edge_id", T.StringType(), False),
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("prop_hash", T.StringType(), False),
    ]
)
PROPERTIES_SCHEMA = T.StructType(
    [
        T.StructField("prop_hash", T.StringType(), False),
        T.StructField("schema_type", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("tagged", T.StringType(), True),
    ]
)
PROP_REFS_SCHEMA = T.StructType(
    [
        T.StructField("prop_hash", T.StringType(), False),
        T.StructField("ref_kind", T.StringType(), False),
        T.StructField("ref_id", T.StringType(), False),
    ]
)

_TABLES = ("vertices", "edges", "properties", "prop_refs")


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` as a JVM-local relation.

    The rows are packed column-wise into a ``pyarrow.Table``, which
    Spark turns into a Catalyst ``LocalRelation``. A plain
    ``createDataFrame(list, schema)`` instead gives a ``LogicalRDD`` over
    pickled rows, and every stage that scans it starts Python-worker
    tasks: a CRUD commit spent most of its time waiting on them. Every
    literal frame the library builds goes through here.

    The schema (a ``StructType`` or a DDL string) is kept exactly,
    nullability included; a NULL in a non-nullable field raises, as the
    list path's schema check does.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


class NodeExistsError(Exception):
    """Mirror of Error::NodeExists (kv_graph_store.rs:545-547)."""


def _prop_rows(prop: Prop, schema: Schema):
    """properties rows + (prop-nesting) prop_refs rows for one property's
    nested closure (create_property recursion, kv_graph_store.rs:710-734)."""
    props = {
        prop.hash: (prop.hash, prop.schema_type, prop.value_json, prop.tagged_json)
    }
    refs = []
    for parent, child in schema.closure(prop):
        props[child.hash] = (
            child.hash,
            child.schema_type,
            child.value_json,
            child.tagged_json,
        )
        refs.append((child.hash, "prop", parent.hash))
    return list(props.values()), refs


def _cut(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` with constraint propagation
    scoped OFF during the checkpoint's plan finalization (r14): cutting
    a union whose children reuse an already-checkpointed frame's
    attribute ids trips a Catalyst bug in
    ``UnionBase.rewriteConstraints`` ("key not found: id#...") — the
    CRUD/changeset tables are exactly that shape. Constraints only feed
    the optimizer's filter inference; the cut plan is KB-sized CRUD
    state, so nothing is lost. The previous conf value is restored in
    ``finally``; localCheckpoint plans at call time, so the toggle
    scopes exactly the one plan."""
    spark = df.sparkSession
    key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        return df.localCheckpoint(eager=False)
    finally:
        spark.conf.set(key, prev)


@dataclass
class PropertyGraph:
    spark: SparkSession
    vertices: DataFrame
    edges: DataFrame
    properties: DataFrame
    prop_refs: DataFrame
    schema: Schema = None  # type: ignore[assignment]

    def __post_init__(self):
        if self.schema is None:
            self.schema = DEFAULT_SCHEMA

    # -- construction -------------------------------------------------------

    @staticmethod
    def empty(spark: SparkSession, schema: Schema | None = None) -> "PropertyGraph":
        return PropertyGraph(
            spark,
            local_frame(spark, [], VERTICES_SCHEMA),
            local_frame(spark, [], EDGES_SCHEMA),
            local_frame(spark, [], PROPERTIES_SCHEMA),
            local_frame(spark, [], PROP_REFS_SCHEMA),
            schema or DEFAULT_SCHEMA,
        )

    @staticmethod
    def load(spark: SparkSession, path: str, schema: Schema | None = None) -> "PropertyGraph":
        return PropertyGraph(
            spark,
            *(spark.read.parquet(f"{path}/{t}") for t in _TABLES),
            schema or DEFAULT_SCHEMA,
        )

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Persist as parquet. At scale: edges are the big table — write them
        hash-distributed by ``src`` so out-traversals co-locate, and
        properties by hash so content lookups prune."""
        self.vertices.repartition("id").write.mode(mode).parquet(f"{path}/vertices")
        self.edges.repartition("src").write.mode(mode).parquet(f"{path}/edges")
        self.properties.repartition("prop_hash").write.mode(mode).parquet(
            f"{path}/properties"
        )
        self.prop_refs.repartition("prop_hash").write.mode(mode).parquet(
            f"{path}/prop_refs"
        )

    def save_bucketed(self, prefix: str, buckets: int = 64) -> None:
        """Persist as BUCKETED catalog tables (``<prefix>_vertices`` etc.):
        edges bucketed+sorted by ``src``, vertices by ``id``, properties and
        prop_refs by ``prop_hash``. Traversal joins on the bucket key then
        read pre-shuffled data — no exchange on the bucketed side (the
        co-located-join strategy from SCALE.md §1; at 100 TB this is the
        difference between shuffling the edge table per query and never
        shuffling it)."""
        import shutil
        from urllib.parse import urlparse

        warehouse = urlparse(self.spark.conf.get("spark.sql.warehouse.dir")).path
        writes = [
            (self.vertices, "vertices", "id"),
            (self.edges, "edges", "src"),
            (self.properties, "properties", "prop_hash"),
            (self.prop_refs, "prop_refs", "prop_hash"),
        ]
        for df, name, key in writes:
            table = f"{prefix}_{name}"
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            # a managed-table location left behind by a PREVIOUS session is
            # unknown to this session's in-memory catalog and blocks the
            # write (LOCATION_ALREADY_EXISTS) — clear it
            shutil.rmtree(f"{warehouse}/{table}", ignore_errors=True)
            (
                df.write.mode("overwrite")
                .bucketBy(buckets, key)
                .sortBy(key)
                .format("parquet")
                .saveAsTable(table)
            )

    @staticmethod
    def load_bucketed(
        spark: SparkSession, prefix: str, schema: Schema | None = None
    ) -> "PropertyGraph":
        return PropertyGraph(
            spark,
            *(spark.table(f"{prefix}_{t}") for t in _TABLES),
            schema or DEFAULT_SCHEMA,
        )

    def cache(self) -> "PropertyGraph":
        for df in (self.vertices, self.edges, self.properties, self.prop_refs):
            df.cache()
        return self

    def _with(self, **tables: DataFrame) -> "PropertyGraph":
        kwargs = {t: tables.get(t, getattr(self, t)) for t in _TABLES}
        return PropertyGraph(self.spark, schema=self.schema, **kwargs)

    # -- point reads / listings (PropertyGraphReader, lib.rs:80-104) --------

    def read_node(self, vertex_id: str):
        return self.vertices.filter(F.col("id") == vertex_id).first()

    def read_edge(self, edge_id: str):
        return self.edges.filter(F.col("edge_id") == edge_id).first()

    def read_property(self, prop_hash: str):
        return self.properties.filter(F.col("prop_hash") == prop_hash).first()

    def node_adjacency(self, vertex_ids: Sequence[str]) -> DataFrame:
        """Derived incoming/outgoing edge sets (the reference materializes
        these on the node record; we derive them with one pass over edges)."""
        ids = local_frame(self.spark, [(v,) for v in vertex_ids], "id string")
        out = (
            self.edges.join(F.broadcast(ids), F.col("src") == F.col("id"))
            .select("id", F.col("edge_id"), F.lit("outgoing").alias("direction"))
        )
        inc = (
            self.edges.join(F.broadcast(ids), F.col("dst") == F.col("id"))
            .select("id", F.col("edge_id"), F.lit("incoming").alias("direction"))
        )
        return out.unionByName(inc)

    # -- CRUD (GraphStore, kv_graph_store.rs:531-752) ------------------------

    def _assert_new_node_ids(self, ids: list[str]) -> None:
        # the reference creates nodes one at a time, so a repeated id in
        # one batch fails on its second create
        seen: set[str] = set()
        for i in ids:
            if i in seen:
                raise NodeExistsError(f"node {i} already exists")
            seen.add(i)
        ids_df = local_frame(self.spark, [(i,) for i in ids], "id string")
        clash = self.vertices.join(F.broadcast(ids_df), "id", "leftsemi").limit(1).collect()
        if clash:
            raise NodeExistsError(f"node {clash[0]['id']} already exists")

    def create_nodes(
        self, items: Iterable[tuple[Optional[str], Prop]]
    ) -> tuple["PropertyGraph", list[str]]:
        """Batch create_node (kv_graph_store.rs:531-553): errors if any id
        exists, dedups property content, writes index backlinks."""
        b = GraphBatchBuilder(self.schema)
        ids = [b.add_node(prop, id=vid) for vid, prop in items]
        self._assert_new_node_ids(ids)
        v, e, p, r = b.frames(self.spark)
        return (
            self._with(
                vertices=self.vertices.unionByName(v),
                properties=self.properties.unionByName(p).dropDuplicates(["prop_hash"]),
                prop_refs=self.prop_refs.unionByName(r).dropDuplicates(),
            ),
            ids,
        )

    def get_or_create_nodes(
        self, items: Iterable[tuple[Optional[str], Prop]]
    ) -> tuple["PropertyGraph", list[str]]:
        """CLI --get-or-create semantics (cli_helpers.rs:137-160): probe the
        property index for an existing node with identical property content;
        create only the misses. Returns ids in input order (existing id for
        hits, fresh for misses)."""
        items = list(items)
        hashes = list({p.hash for _, p in items})
        h_df = local_frame(self.spark, [(h,) for h in hashes], "prop_hash string")
        existing = {
            r["prop_hash"]: r["ref_id"]
            for r in self.prop_refs.filter(F.col("ref_kind") == "node")
            .join(F.broadcast(h_df), "prop_hash", "leftsemi")
            .groupBy("prop_hash")
            .agg(F.min("ref_id").alias("ref_id"))
            .collect()
        }
        # dedupe misses by content hash WITHIN the batch: the reference CLI
        # path is sequential, so a second identical item returns the first's
        # id — mirror that by creating one node per distinct missing content
        # and mapping every item with that hash to it
        to_create, seen = [], set()
        for vid, p in items:
            if p.hash not in existing and p.hash not in seen:
                seen.add(p.hash)
                to_create.append((vid, p))
        g, created = (self.create_nodes(to_create) if to_create else (self, []))
        created_by_hash = {
            p.hash: cid for (_, p), cid in zip(to_create, created)
        }
        out = [
            existing[p.hash] if p.hash in existing else created_by_hash[p.hash]
            for _, p in items
        ]
        return g, out

    def update_nodes(
        self, items: Iterable[tuple[str, Prop]]
    ) -> "PropertyGraph":
        """Batch update_node (kv_graph_store.rs:555-582): swap the node's
        property; old property rows become garbage collected by ``gc()``.
        A node updated twice in one batch keeps its last property, as the
        reference's one-at-a-time updates would leave it."""
        items = list({vid: (vid, prop) for vid, prop in items}.values())
        # reference semantics: updating a nonexistent node is an error
        # (update_node does read_node first, kv_graph_store.rs:555-560)
        ids_df = local_frame(self.spark, [(vid,) for vid, _ in items], "id string")
        missing = ids_df.join(self.vertices, "id", "leftanti").limit(1).collect()
        if missing:
            raise KeyError(f"update_nodes: node {missing[0]['id']} does not exist")
        b = GraphBatchBuilder(self.schema)
        for vid, prop in items:
            b.add_node(prop, id=vid)
        v, _, p, r = b.frames(self.spark)
        new_v = v.select("id", "prop_hash")
        vertices = (
            self.vertices.join(F.broadcast(new_v.select("id")), "id", "leftanti")
            .unionByName(new_v)
        )
        # drop the old node->prop backlinks, add the new ones
        old_refs = self.vertices.join(F.broadcast(new_v.select("id")), "id", "leftsemi")
        prop_refs = (
            self.prop_refs.join(
                F.broadcast(
                    old_refs.select(
                        F.col("prop_hash"), F.lit("node").alias("ref_kind"), F.col("id").alias("ref_id")
                    )
                ),
                ["prop_hash", "ref_kind", "ref_id"],
                "leftanti",
            )
            .unionByName(r)
            .dropDuplicates()
        )
        return self._with(
            vertices=vertices,
            properties=self.properties.unionByName(p).dropDuplicates(["prop_hash"]),
            prop_refs=prop_refs,
        )

    def delete_nodes(self, vertex_ids: Sequence[str], cascade: bool = True) -> "PropertyGraph":
        """Batch delete_node. ``cascade=True`` removes incident edges — the
        *documented* behavior (docs/key_value_store.adoc:543-544); the
        reference code leaves them dangling (kv_graph_store.rs:584-602) —
        pass ``cascade=False`` to replicate that."""
        ids = local_frame(self.spark, [(v,) for v in vertex_ids], "id string")
        vertices = self.vertices.join(F.broadcast(ids), "id", "leftanti")
        refs_gone = self.prop_refs.join(
            F.broadcast(ids.select(F.col("id").alias("ref_id"))), "ref_id", "leftanti"
        ).unionByName(
            self.prop_refs.join(
                F.broadcast(ids.select(F.col("id").alias("ref_id"))), "ref_id", "leftsemi"
            ).filter(F.col("ref_kind") != "node")
        )
        g = self._with(vertices=vertices, prop_refs=refs_gone)
        if cascade:
            doomed = (
                self.edges.join(F.broadcast(ids), F.col("src") == F.col("id"), "leftsemi")
                .unionByName(
                    self.edges.join(F.broadcast(ids), F.col("dst") == F.col("id"), "leftsemi")
                )
                .select("edge_id")
                .distinct()
            )
            g = g._delete_edges_df(doomed)
        return g

    def create_edges(
        self, items: Iterable[tuple[str, str, Prop]]
    ) -> tuple["PropertyGraph", list[str]]:
        """Batch create_edge (kv_graph_store.rs:604-655). Content-addressed
        ids: duplicate (src, dst, props) collapse to one edge. No adjacency
        upkeep needed (derived)."""
        b = GraphBatchBuilder(self.schema)
        ids = [b.add_edge(s, d, prop) for s, d, prop in items]
        _, e, p, r = b.frames(self.spark)
        return (
            self._with(
                edges=self.edges.unionByName(e).dropDuplicates(["edge_id"]),
                properties=self.properties.unionByName(p).dropDuplicates(["prop_hash"]),
                prop_refs=self.prop_refs.unionByName(r).dropDuplicates(),
            ),
            ids,
        )

    def _delete_edges_df(self, edge_ids: DataFrame) -> "PropertyGraph":
        edges = self.edges.join(
            F.broadcast(edge_ids.select("edge_id")), "edge_id", "leftanti"
        )
        prop_refs = self.prop_refs.join(
            F.broadcast(edge_ids.select(F.col("edge_id").alias("ref_id"))),
            "ref_id",
            "leftanti",
        ).unionByName(
            self.prop_refs.join(
                F.broadcast(edge_ids.select(F.col("edge_id").alias("ref_id"))),
                "ref_id",
                "leftsemi",
            ).filter(F.col("ref_kind") != "edge")
        )
        return self._with(edges=edges, prop_refs=prop_refs)

    def delete_edges(self, edge_ids: Sequence[str]) -> "PropertyGraph":
        ids = local_frame(self.spark, [(e,) for e in edge_ids], "edge_id string")
        return self._delete_edges_df(ids)

    def gc(self, max_iters: int = 10) -> "PropertyGraph":
        """Refcount GC of unreferenced properties as a batch job.

        The reference refcounts per-op via index backlinks
        (kv_graph_store.rs:388-404,736-752); at scale a periodic anti-join
        fixpoint is cheaper. A property is live iff it has ≥1 prop_refs row;
        deleting a dead parent drops its nesting refs, which may orphan
        children — iterate to fixpoint (depth = nesting depth, tiny)."""
        # r14 (guide §7.3): lazy lineage cuts at entry and per iteration —
        # uncut, every fixpoint isEmpty re-planned and re-executed the
        # graph's whole op lineage (unions/anti-joins of every CRUD op
        # since load), making gc quadratic in plan depth. The first
        # isEmpty materializes the entry cuts; each iteration's cuts ride
        # the next probe. Lazy is sound: nothing external mutates between
        # the cut and its first action.
        properties = _cut(self.properties)
        prop_refs = _cut(self.prop_refs)
        for _ in range(max_iters):
            dead = properties.join(
                prop_refs.select("prop_hash").distinct(), "prop_hash", "leftanti"
            ).select("prop_hash")
            if dead.isEmpty():
                break
            dead = dead.cache()
            properties = _cut(properties.join(dead, "prop_hash", "leftanti"))
            prop_refs = _cut(
                prop_refs.join(
                    dead.select(F.col("prop_hash").alias("ref_id")), "ref_id", "leftanti"
                ).select("prop_hash", "ref_kind", "ref_id")
            )
        return self._with(properties=properties, prop_refs=prop_refs)

    # -- integrity (planned CLI db_info/doctor, backends_filestore.adoc) ----

    def db_info(self) -> dict:
        return {
            "nodes": self.vertices.count(),
            "edges": self.edges.count(),
            "properties": self.properties.count(),
            "prop_refs": self.prop_refs.count(),
        }

    def doctor(self) -> dict[str, DataFrame]:
        """Integrity audit (the reference's planned ``doctor`` verb,
        docs/backends_filestore.adoc:969-973 — "checks the database is
        valid and lists errors"; TODO-stubbed there, implemented here).

        Five checks, each one anti-join (so the whole audit is a handful
        of shuffle-free broadcast/semi passes over the four tables):

        - ``dangling_edges``       — edges whose src or dst vertex is gone
          (the reference's non-cascading delete_node leaves these,
          kv_graph_store.rs:584-602)
        - ``missing_properties``   — vertices/edges whose prop_hash has no
          properties row (content blob lost)
        - ``stale_refs``           — prop_refs backlinks whose referrer
          (node/edge/parent property) no longer exists (refcount audit:
          these rows keep garbage alive)
        - ``missing_refs``         — vertices/edges with NO backlink row
          (refcount audit: property-index lookups can't find them)
        - ``orphaned_properties``  — properties rows with zero backlinks
          (dead content a ``gc()`` would collect)

        Returns {check_name: violation DataFrame} — empty DataFrames mean
        a healthy store.
        """
        v, e, p, r = self.vertices, self.edges, self.properties, self.prop_refs
        vids = v.select("id")
        dangling_edges = (
            e.join(vids.withColumnRenamed("id", "src"), "src", "leftanti")
            .unionByName(e.join(vids.withColumnRenamed("id", "dst"), "dst", "leftanti"))
            .dropDuplicates(["edge_id"])
        )
        phashes = p.select("prop_hash")
        missing_properties = (
            v.select(F.lit("node").alias("kind"), F.col("id").alias("ref_id"), "prop_hash")
            .unionByName(
                e.select(
                    F.lit("edge").alias("kind"),
                    F.col("edge_id").alias("ref_id"),
                    "prop_hash",
                )
            )
            .join(phashes, "prop_hash", "leftanti")
        )
        referrers = (
            v.select(F.lit("node").alias("ref_kind"), F.col("id").alias("ref_id"))
            .unionByName(
                e.select(F.lit("edge").alias("ref_kind"), F.col("edge_id").alias("ref_id"))
            )
            .unionByName(
                p.select(F.lit("prop").alias("ref_kind"), F.col("prop_hash").alias("ref_id"))
            )
        )
        stale_refs = r.join(referrers, ["ref_kind", "ref_id"], "leftanti")
        node_refs = r.filter(F.col("ref_kind") == "node").select(
            F.col("ref_id").alias("id")
        )
        edge_refs = r.filter(F.col("ref_kind") == "edge").select(
            F.col("ref_id").alias("edge_id")
        )
        missing_refs = (
            v.join(node_refs, "id", "leftanti")
            .select(F.lit("node").alias("kind"), F.col("id").alias("ref_id"), "prop_hash")
            .unionByName(
                e.join(edge_refs, "edge_id", "leftanti").select(
                    F.lit("edge").alias("kind"),
                    F.col("edge_id").alias("ref_id"),
                    "prop_hash",
                )
            )
        )
        orphaned_properties = p.join(
            r.select("prop_hash").distinct(), "prop_hash", "leftanti"
        ).select("prop_hash", "schema_type")
        return {
            "dangling_edges": dangling_edges,
            "missing_properties": missing_properties,
            "stale_refs": stale_refs,
            "missing_refs": missing_refs,
            "orphaned_properties": orphaned_properties,
        }


class GraphBatchBuilder:
    """Accumulate nodes/edges driver-side, emit the four DataFrames.

    This is the literal/ingest path (GraphBuilder trait, lib.rs:67-77).
    For bulk ingest from existing DataFrames use
    ``gravitydb_spark.sources.ingest`` instead — this builder is for
    fixtures, tests, and small CRUD batches.

    ``frames`` emits JVM-local relations (:func:`local_frame`). They are
    about 2× faster to build, aggregate and join than pickled-row frames
    at 1k–30k rows. At 300k rows they still build faster (0.4 s vs
    0.9 s), but every re-scan is about 2× slower (an aggregate took
    0.9 s vs 0.45 s), so batches that large belong on the bulk path.
    """

    def __init__(self, schema: Schema | None = None):
        self.schema = schema or DEFAULT_SCHEMA
        self._vertices: list[tuple[str, str]] = []
        self._edges: dict[str, tuple[str, str, str, str]] = {}
        self._properties: dict[str, tuple[str, str, str, str]] = {}
        self._prop_refs: set[tuple[str, str, str]] = set()

    def _register_prop(self, prop: Prop) -> str:
        props, refs = _prop_rows(prop, self.schema)
        for row in props:
            self._properties[row[0]] = row
        self._prop_refs.update(refs)
        return prop.hash

    def add_node(self, prop: Prop, id: Optional[str] = None) -> str:
        vid = id or str(uuid.uuid4())
        ph = self._register_prop(prop)
        self._vertices.append((vid, ph))
        self._prop_refs.add((ph, "node", vid))
        return vid

    def add_edge(self, src: str, dst: str, prop: Prop) -> str:
        ph = self._register_prop(prop)
        eid = edge_hash(src, dst, ph)
        self._edges[eid] = (eid, src, dst, ph)
        self._prop_refs.add((ph, "edge", eid))
        return eid

    def frames(
        self, spark: SparkSession
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        return (
            local_frame(spark, self._vertices, VERTICES_SCHEMA),
            local_frame(spark, self._edges.values(), EDGES_SCHEMA),
            local_frame(spark, self._properties.values(), PROPERTIES_SCHEMA),
            local_frame(spark, sorted(self._prop_refs), PROP_REFS_SCHEMA),
        )

    def build(self, spark: SparkSession) -> PropertyGraph:
        v, e, p, r = self.frames(spark)
        return PropertyGraph(spark, v, e, p, r, self.schema)

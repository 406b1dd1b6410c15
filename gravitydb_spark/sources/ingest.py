"""Bulk graph ingest — build the four graph tables from DataFrames with
ZERO driver-side loops. This is the 100 TB path: content hashes are
computed JVM-side (``sha2`` over a canonical tagged-JSON column), property
dedup is a ``dropDuplicates`` on the hash, and nothing is collected.

Canonical-encoding parity: the Spark-side tagged JSON must hash identically
to the Python-side ``hashing.prop_hash`` so graphs built via
``GraphBatchBuilder`` (fixtures, CRUD) and via ``ingest_graph`` (bulk) are
interchangeable. The tagged form is a single-key JSON object (or a bare
JSON string for unit variants), so key ordering — the usual canonicalization
hazard — cannot arise; a parity test pins this.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..graph import (
    EDGES_SCHEMA,
    PROP_REFS_SCHEMA,
    PROPERTIES_SCHEMA,
    PropertyGraph,
    VERTICES_SCHEMA,
    local_frame,
)
from ..schema import SCHEMA_TYPE, Prop, Schema

__all__ = ["tagged_json_col", "prop_hash_col", "edge_hash_col", "ingest_graph"]


def value_json_col(payload: Column) -> Column:
    """Canonical JSON of a string payload column (``null`` → ``"null"``).

    ``to_json(array(x))`` wraps the escaped value in ``[...]``; stripping
    the brackets yields the bare canonical JSON scalar — this keeps the
    escaping logic in Jackson (JVM) instead of reimplementing it.
    """
    arr = F.to_json(F.array(payload))
    return F.when(payload.isNull(), F.lit("null")).otherwise(
        F.substring(arr, F.lit(2), F.length(arr) - 2)
    )


def tagged_json_col(
    schema_type: Column, payload: Column, payload_is_json: bool = False
) -> Column:
    """Externally-tagged canonical JSON:
    ``{"Cocktail":"Alexander"}`` / ``"Includes"`` (unit).

    With ``payload_is_json`` the payload column already holds *canonical*
    JSON (sorted keys, compact — the caller guarantees it, e.g. via
    ``F.to_json`` of a sorted struct), enabling non-string payloads in
    bulk ingest; NULL or ``'null'`` payloads encode as unit variants.
    """
    vj = payload if payload_is_json else value_json_col(payload)
    is_unit = payload.isNull() | (F.lit(payload_is_json) & (payload == "null"))
    return F.when(
        is_unit,
        F.concat(F.lit('"'), schema_type, F.lit('"')),
    ).otherwise(F.concat(F.lit('{"'), schema_type, F.lit('":'), vj, F.lit("}")))


def prop_hash_col(
    schema_type: Column, payload: Column, payload_is_json: bool = False
) -> Column:
    return F.sha2(tagged_json_col(schema_type, payload, payload_is_json), 256)


def edge_hash_col(src: Column, dst: Column, prop_hash: Column) -> Column:
    """Canonical edge record hash; key order n1 < n2 < properties matches
    ``hashing.edge_hash``. Built with ``to_json(struct(...))`` so Jackson
    escapes ids exactly like Python's ``canonical_json`` does (``"``, ``\\``
    and control characters) — raw concatenation would hash differently for
    ids containing JSON metacharacters, silently breaking cross-path edge
    dedup/delete between ``GraphBatchBuilder`` and bulk ingest."""
    record = F.to_json(
        F.struct(src.alias("n1"), dst.alias("n2"), prop_hash.alias("properties"))
    )
    return F.sha2(record, 256)


def _prop_table(
    elements: DataFrame, schema: Schema, payload_is_json: bool = False
) -> tuple[DataFrame, DataFrame]:
    """properties + prop-nesting refs for the distinct properties of
    ``elements(schema_type, payload)`` — includes the type-tag closure."""
    spark = elements.sparkSession
    distinct_props = (
        elements.select(
            prop_hash_col(
                F.col("schema_type"), F.col("payload"), payload_is_json
            ).alias("prop_hash"),
            "schema_type",
            (
                F.coalesce(F.col("payload"), F.lit("null"))
                if payload_is_json
                else value_json_col(F.col("payload"))
            ).alias("value"),
            tagged_json_col(
                F.col("schema_type"), F.col("payload"), payload_is_json
            ).alias("tagged"),
        )
        .dropDuplicates(["prop_hash"])
    )
    # type-tag dimension: tiny (one row per distinct schema_type) — driver ok
    types = [r["schema_type"] for r in elements.select("schema_type").distinct().collect()]
    tag_props, tag_refs = [], []
    for t in types:
        for parent, child in schema.closure(Prop(t, "__x__")):
            # closure of a representative; tags depend only on schema_type
            if parent.schema_type == t:
                tag_props.append(
                    (child.hash, child.schema_type, child.value_json, child.tagged_json)
                )
    tags_df = local_frame(spark, tag_props, PROPERTIES_SCHEMA).dropDuplicates(
        ["prop_hash"]
    )
    # nesting refs: each value-property references its type tag
    tag_hash_map = {
        t: [c.hash for p, c in schema.closure(Prop(t, "__x__")) if p.schema_type == t]
        for t in types
    }
    mapping_rows = [(t, h) for t, hs in tag_hash_map.items() for h in hs]
    if mapping_rows:
        mapping = local_frame(spark, mapping_rows, "schema_type string, tag_hash string")
        nest_refs = distinct_props.join(F.broadcast(mapping), "schema_type").select(
            F.col("tag_hash").alias("prop_hash"),
            F.lit("prop").alias("ref_kind"),
            F.col("prop_hash").alias("ref_id"),
        )
    else:
        nest_refs = local_frame(spark, [], PROP_REFS_SCHEMA)
    return distinct_props.unionByName(tags_df).dropDuplicates(["prop_hash"]), nest_refs


def ingest_graph(
    spark: SparkSession,
    vertices: DataFrame,
    edges: Optional[DataFrame] = None,
    schema: Optional[Schema] = None,
    payload_is_json: bool = False,
) -> PropertyGraph:
    """Build a PropertyGraph from raw DataFrames.

    ``vertices``: columns ``id`` (string), ``schema_type`` (string),
    ``payload`` (string or null).
    ``edges``: columns ``src``, ``dst``, ``schema_type``, ``payload``.

    All hashing/dedup/backlinks are DataFrame transforms — scales linearly,
    shuffles only for the dropDuplicates on content hashes.
    """
    schema = schema or Schema()
    if edges is None:
        edges = local_frame(
            spark, [], "src string, dst string, schema_type string, payload string"
        )

    v = vertices.withColumn(
        "prop_hash",
        prop_hash_col(F.col("schema_type"), F.col("payload"), payload_is_json),
    )
    e = edges.withColumn(
        "prop_hash",
        prop_hash_col(F.col("schema_type"), F.col("payload"), payload_is_json),
    ).withColumn("edge_id", edge_hash_col(F.col("src"), F.col("dst"), F.col("prop_hash")))

    vertices_t = v.select("id", "prop_hash")
    edges_t = e.select("edge_id", "src", "dst", "prop_hash").dropDuplicates(["edge_id"])

    all_props = v.select("schema_type", "payload").unionByName(
        e.select("schema_type", "payload")
    )
    properties_t, nest_refs = _prop_table(all_props, schema, payload_is_json)

    node_refs = vertices_t.select(
        "prop_hash", F.lit("node").alias("ref_kind"), F.col("id").alias("ref_id")
    )
    edge_refs = edges_t.select(
        "prop_hash", F.lit("edge").alias("ref_kind"), F.col("edge_id").alias("ref_id")
    )
    prop_refs_t = node_refs.unionByName(edge_refs).unionByName(nest_refs).dropDuplicates()

    return PropertyGraph(spark, vertices_t, edges_t, properties_t, prop_refs_t, schema)

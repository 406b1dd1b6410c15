"""Literal frames stay JVM-local.

Every frame the library builds from driver-side rows goes through
``graph.local_frame``, which gives a Catalyst ``LocalRelation``. A
``createDataFrame(list, schema)`` frame is a ``LogicalRDD`` over pickled
rows instead, and each stage that scans it starts Python-worker tasks.
These tests pin the plans, the schemas and the call-site rule.
"""

import ast
import os

import pytest

from gravitydb_spark import GraphBatchBuilder, Prop
from gravitydb_spark.changeset import change_from_json, change_to_json, graph_diff
from gravitydb_spark.graph import (
    EDGES_SCHEMA,
    PROP_REFS_SCHEMA,
    PROPERTIES_SCHEMA,
    VERTICES_SCHEMA,
    local_frame,
)
from gravitydb_spark.plans.compiler import execute
from gravitydb_spark.ql import eq_from_ids, vq_from_ids
from gravitydb_spark.sources.ingest import ingest_graph

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "gravitydb_spark")

A_ID = "00000000-0000-0000-0000-00000000000a"
B_ID = "00000000-0000-0000-0000-00000000000b"
C_ID = "00000000-0000-0000-0000-00000000000c"


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def assert_no_rdd_scan(df, what):
    plan = _optimized_plan(df)
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, f"{what}:\n{plan}"


def assert_tables_local(g, what):
    for t in ("vertices", "edges", "properties", "prop_refs"):
        assert_no_rdd_scan(getattr(g, t), f"{what}.{t}")


def _base(spark):
    b = GraphBatchBuilder()
    b.add_node(Prop("City", "Berlin"), id=A_ID)
    b.add_node(Prop("City", "Paris"), id=B_ID)
    b.add_edge(A_ID, B_ID, Prop("Road", "A2"))
    return b.build(spark)


class TestPlanGuard:
    def test_crud_tables_have_no_rdd_scan(self, spark):
        g = _base(spark)
        assert_tables_local(g, "build")
        g, _ = g.create_nodes([(C_ID, Prop("City", "Rome"))])
        assert_tables_local(g, "create_nodes")
        g, eids = g.create_edges([(A_ID, C_ID, Prop("Road", "B1"))])
        assert_tables_local(g, "create_edges")
        g = g.update_nodes([(B_ID, Prop("City", "Paris-2"))])
        assert_tables_local(g, "update_nodes")
        g = g.delete_edges(eids)
        assert_tables_local(g, "delete_edges")
        g = g.delete_nodes([A_ID], cascade=True)
        assert_tables_local(g, "delete_nodes")
        assert sorted(r["id"] for r in g.vertices.collect()) == [B_ID, C_ID]
        assert g.edges.count() == 0

    def test_specific_query_has_no_rdd_scan(self, spark):
        g = _base(spark)
        res = execute(g, vq_from_ids([A_ID, C_ID]))
        for name in ("vertices", "edges", "paths"):
            assert_no_rdd_scan(getattr(res, name), f"vq.{name}")
        assert sorted(r["id"] for r in res.vertices.collect()) == [A_ID, C_ID]
        eid = g.edges.first()["edge_id"]
        res = execute(g, eq_from_ids([eid]))
        for name in ("vertices", "edges", "paths"):
            assert_no_rdd_scan(getattr(res, name), f"eq.{name}")

    def test_changeset_json_frames_have_no_rdd_scan(self, spark):
        base = _base(spark)
        new, _ = base.create_nodes([(C_ID, Prop("City", "Rome"))])
        change = change_from_json(spark, change_to_json(graph_diff(base, new)))
        frames = {k: v for k, v in change.items() if k != "depends_on"}
        assert len(frames) == 7
        for name, df in frames.items():
            assert_no_rdd_scan(df, f"change.{name}")
        assert [r["id"] for r in change["created_nodes"].collect()] == [C_ID]

    def test_ingest_output_has_no_rdd_scan(self, spark):
        verts = local_frame(
            spark,
            [("v1", "City", "Berlin"), ("v2", "City", "Paris")],
            "id string, schema_type string, payload string",
        )
        g = ingest_graph(spark, verts)
        assert_tables_local(g, "ingest_graph")
        assert g.properties.count() == 3  # two cities + the City type tag


class TestSchemaParity:
    SCHEMAS = {
        "vertices": (VERTICES_SCHEMA, [("v1", "h1"), ("v2", "h2")]),
        "edges": (EDGES_SCHEMA, [("e1", "v1", "v2", "h3")]),
        "properties": (
            PROPERTIES_SCHEMA,
            [("h1", "City", '"Berlin"', '{"City":"Berlin"}'), ("h4", None, None, None)],
        ),
        "prop_refs": (PROP_REFS_SCHEMA, [("h1", "node", "v1"), ("h3", "edge", "e1")]),
        "ddl": ("id string", [("v1",), (None,)]),
    }

    @pytest.mark.parametrize("name", sorted(SCHEMAS))
    @pytest.mark.parametrize("empty", [True, False], ids=["empty", "rows"])
    def test_matches_list_frame(self, spark, name, empty):
        schema, rows = self.SCHEMAS[name]
        rows = [] if empty else rows
        want = spark.createDataFrame(rows, schema)
        got = local_frame(spark, rows, schema)
        # the JVM-side schema, not the Python-side cache
        assert got._jdf.schema().json() == want._jdf.schema().json()
        assert got.schema == want.schema
        assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
        assert "LocalRelation" in _optimized_plan(got)

    def test_null_in_non_nullable_field_raises(self, spark):
        with pytest.raises(ValueError):
            local_frame(spark, [(None, "h1")], VERTICES_SCHEMA)


# the library modules whose literal frames must go through local_frame
LINTED = ["graph.py", "changeset.py", "plans", "sources", "cli.py", "transaction.py"]


def _linted_files():
    for entry in LINTED:
        path = os.path.join(PKG, entry)
        if os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                if name.endswith(".py"):
                    yield os.path.join(path, name)
        else:
            yield path


def _create_dataframe_calls(tree):
    """(line, enclosing function) of every ``*.createDataFrame(...)`` call."""
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            out.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_lint_create_dataframe_only_in_local_frame():
    files = list(_linted_files())
    assert len(files) >= 8
    offenders, helper_calls = [], 0
    for path in files:
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for line, func in _create_dataframe_calls(tree):
            if func == "local_frame" and path == os.path.join(PKG, "graph.py"):
                helper_calls += 1
            else:
                offenders.append(f"{os.path.relpath(path, PKG)}:{line} (in {func})")
    assert not offenders, "use graph.local_frame instead of createDataFrame: " + ", ".join(
        offenders
    )
    assert helper_calls == 1


def test_lint_catches_a_list_frame():
    src = "def f(spark):\n    return spark.createDataFrame([], 'id string')\n"
    assert _create_dataframe_calls(ast.parse(src)) == [(2, "f")]

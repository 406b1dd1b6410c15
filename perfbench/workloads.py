"""The benchmark's workloads: set-up, one op, per-op check and final check.

Each workload drives the package only through its entry points (the
``graph_queries`` TPC-H graph and query builders, ``ql`` builders,
``plans.compiler.execute``, ``QueryResult``, ``PropertyGraph``
CRUD/``gc``/``doctor``, ``TransactionalStore`` and ``graph_queries.CCIvm``),
and wraps every such call in a tracer span named after the layer it enters.
The graph and the traversals come from ``graph_queries``, so the benchmark
runs the same ql the gate queries run.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from data import Oracle, generate_tables
from gravitydb_spark.graph_queries import _customers_in_nation, _customers_in_region, _prop, tpch_graph

# span names, one per layer boundary the benchmark crosses
QL = "ql.build"
EXECUTE = "compiler.execute"
EXTRACT_PATHS = "compiler.extract_paths"
ACTION = "spark.action"
CRUD = "graph.crud"
GC = "graph.gc"
DOCTOR = "graph.doctor"
COMMIT = "transaction.commit"
LOAD = "transaction.load"
GC_SNAPSHOTS = "transaction.gc_snapshots"
INGEST = "ingest.build"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class GraphWorkload:
    """Shared set-up: seeded tables, DuckDB answers, bulk ingest of the
    TPC-H property graph, and a TransactionalStore initialised from it."""

    ops_per_round = 1

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.store_dir = os.path.join(work, "store")
        self.ingest_rows = 0
        self.written_bytes: list[int] = []
        self.commits = 0

    def prepare_inputs(self) -> None:
        """Benchmark-side input generation; not part of set-up time."""
        self.data_dir = os.path.join(self.work, "data")
        self.paths = generate_tables(self.seed, self.data_dir)
        self.oracle = Oracle(self.data_dir)

    def build_graph(self):
        with self.tracer.span(INGEST):
            g = tpch_graph(self.spark, self.data_dir)
            counts = [df.count() for df in (g.vertices, g.edges, g.properties, g.prop_refs)]
        self.ingest_rows = sum(counts)
        self.initial_counts = dict(zip(("nodes", "edges", "properties", "prop_refs"), counts))
        return g

    def init_store(self, g):
        from gravitydb_spark.transaction import TransactionalStore

        self.store = TransactionalStore(self.store_dir)
        with self.tracer.span(COMMIT):
            self.store.init(g)
        with self.tracer.span(LOAD):
            return self.store.load(self.spark)

    def store_bytes(self) -> int:
        return dir_bytes(self.store_dir)

    def detail(self) -> dict:
        return {"graph": self.initial_counts}


class ZoeRead(GraphWorkload):
    """One seeded zoe traversal per op on the cached graph. A round runs
    the four shapes once each, in equal weight: one_hop, two_hop, set_op
    and paths. The loop stops only at round boundaries, so every run has
    the same mix. Set-up warms up with one round."""

    SHAPES = ("one_hop", "two_hop", "set_op", "paths")
    ops_per_round = len(SHAPES)

    def setup(self):
        g = self.build_graph()
        g = self.init_store(g)
        with self.tracer.span(LOAD):
            self.graph = g.cache()
            for df in (g.vertices, g.edges, g.properties, g.prop_refs):
                df.count()
        self.rng = random.Random(self.seed * 7919 + 1)
        warm_rng = random.Random(self.seed * 7919 + 2)
        self.warmup_ok = all(self.check(i, self._run(i, warm_rng)) for i in range(len(self.SHAPES)))

    def op(self, i: int):
        return self._run(i, self.rng)

    def _run(self, i: int, rng: random.Random):
        from gravitydb_spark import execute

        o, tr = self.oracle, self.tracer
        shape = self.SHAPES[i % len(self.SHAPES)]
        with tr.span(QL):
            if shape == "one_hop" or shape == "paths":
                nation = rng.choice(o.nations)
                q = _customers_in_nation(nation)
                key = nation
            elif shape == "two_hop":
                region = rng.choice(o.regions)
                q = _customers_in_region(region)
                key = region
            else:
                a, b, c = rng.sample(o.nations, 3)
                q = _customers_in_nation(a).union(_customers_in_nation(b)).disjunctive_union(
                    _customers_in_nation(b).union(_customers_in_nation(c))
                )
                key = (a, b, c)
        with tr.span(EXECUTE):
            res = execute(self.graph, q)
        if shape == "paths":
            with tr.span(EXTRACT_PATHS):
                paths = res.extract_path_properties().select(*(F.col("props")[k] for k in range(3)))
            with tr.span(ACTION):
                got = {tuple(r) for r in paths.collect()}
        else:
            with tr.span(ACTION):
                got = {r[0] for r in res.vertices.select("id").collect()}
        return shape, key, got

    def check(self, i: int, out) -> bool:
        shape, key, got = out
        o = self.oracle
        if shape == "one_hop":
            want = o.customers_by_nation[key]
        elif shape == "two_hop":
            want = o.customers_by_region[key]
        elif shape == "set_op":
            a, b, c = (o.customers_by_nation[n] for n in key)
            want = (a | b) ^ (b | c)
        else:
            want = o.paths_by_nation[key]
        return got == want

    def finish(self) -> bool:
        return self.warmup_ok


class CrudCommit(GraphWorkload):
    """One writer transaction per op: a seeded create/edge/update/delete
    batch, a commit with a Required and a Prohibited constraint, a reload
    and a read-your-write traversal (ids and path properties). gc() and
    gc_snapshots run once per run, after the timed ops, followed by the
    doctor() audit.

    The benchmark keeps its own model of the store: which customer sits in
    which nation, every customer's name, and the table counts. Every vertex
    property is unique, so a gc'd graph holds properties = vertices + 8 (two
    unit edge properties and six type tags) and prop_refs = vertices + edges
    + vertices + 2 (one node or edge backlink each, plus one type-tag
    nesting ref per non-tag property). Each op leaves the old properties of
    its updated and deleted customers behind, each with its nesting ref:
    2 * BATCH more rows in both tables until the next gc."""

    BATCH = 20

    def setup(self):
        g = self.build_graph()
        self.graph = self.init_store(g)
        self.rng = random.Random(self.seed * 7919 + 3)
        self.cust_nation = {cid: self.oracle.nations.index(n) for cid, n in self.oracle.customer_nation.items()}
        self.names = self._customer_names()
        self.garbage = 0
        # warm-up: the read-your-write traversal on the freshly loaded store
        nation = random.Random(self.seed * 7919 + 5).randrange(len(self.oracle.nations))
        self.warmup_ok = self._read(nation) == self._want(nation)

    def _read(self, nation: int):
        """Ids and path triples of the customers in ``nation`` (one-hop)."""
        from gravitydb_spark import execute

        tr = self.tracer
        with tr.span(QL):
            q = _customers_in_nation(self.oracle.nations[nation])
        with tr.span(EXECUTE):
            res = execute(self.graph, q)
        with tr.span(ACTION):
            got = {r[0] for r in res.vertices.select("id").collect()}
        with tr.span(EXTRACT_PATHS):
            paths = res.extract_path_properties().select(*(F.col("props")[k] for k in range(3)))
        with tr.span(ACTION):
            got_paths = {tuple(r) for r in paths.collect()}
        return got, got_paths

    def _want(self, nation: int):
        """The model's answer to ``_read(nation)``."""
        want = {vid for vid, n in self.cust_nation.items() if n == nation}
        head = (f'{{"Nation":"{self.oracle.nations[nation]}"}}', '"LocatedIn"')
        return want, {head + (f'{{"Customer":"{self.names[vid]}"}}',) for vid in want}

    def _customer_names(self) -> dict[str, str]:
        import pyarrow.parquet as pq

        t = pq.read_table(self.paths["customer"], columns=["c_custkey", "c_name"]).to_pydict()
        return {f"c{k}": n for k, n in zip(t["c_custkey"], t["c_name"])}

    def expected_counts(self) -> dict:
        # every op creates and deletes BATCH customers (with their edges)
        nodes, edges = self.initial_counts["nodes"], self.initial_counts["edges"]
        return {
            "nodes": nodes,
            "edges": edges,
            "properties": nodes + 8 + self.garbage,
            "prop_refs": 2 * nodes + edges + 2 + self.garbage,
        }

    def op(self, i: int):
        from gravitydb_spark import Prop
        from gravitydb_spark.constraints import Prohibited, Required

        rng, tr, o, b = self.rng, self.tracer, self.oracle, self.BATCH
        nation = rng.randrange(len(o.nations))
        live = sorted(self.cust_nation)
        touched = rng.sample(live, 2 * b)
        upd, dele = touched[:b], touched[b:]
        new = [
            (f"x{self.seed}-{i}-{j}", Prop("Customer", f"Customer#new-{self.seed}-{i}-{j}_{rng.getrandbits(32):08x}"))
            for j in range(b)
        ]
        upd_names = {vid: f"Customer#upd-{self.seed}-{i}-{vid}_{rng.getrandbits(32):08x}" for vid in upd}
        g = self.graph
        with tr.span(CRUD):
            g, ids = g.create_nodes(new)
            g, _ = g.create_edges([(vid, f"n{nation}", Prop("LocatedIn")) for vid in ids])
            g = g.update_nodes([(vid, Prop("Customer", upd_names[vid])) for vid in upd])
            g = g.delete_nodes(dele, cascade=True)
        with tr.span(QL):
            constraints = [
                Required(_prop("Customer", new[0][1].payload).referencing_vertices(), "created"),
                Prohibited(_prop("Customer", self.names[dele[0]]).referencing_vertices(), "deleted"),
            ]
        with tr.span(COMMIT):
            snap = self.store.commit(g, constraints)
        with tr.span(LOAD):
            self.graph = self.store.load(self.spark)
        got, got_paths = self._read(nation)
        # the commit is published: advance the model
        for vid in dele:
            del self.cust_nation[vid]
        for vid in ids:
            self.cust_nation[vid] = nation
        self.names.update({vid: p.payload for vid, p in new})
        self.names.update(upd_names)
        self.garbage += 2 * b
        self.commits += 1
        return snap, set(ids), got, got_paths, *self._want(nation)

    def check(self, i: int, out) -> bool:
        snap, ids, got, got_paths, want, want_paths = out
        self.written_bytes.append(dir_bytes(os.path.join(self.store_dir, snap)))
        return (
            ids <= got
            and got == want
            and got_paths == want_paths
            and self.graph.db_info() == self.expected_counts()
        )

    def finish(self) -> bool:
        """Retire all but the current snapshot (the second pass deletes the
        de-published bytes), then gc the reloaded store: the five doctor()
        checks must all be empty and the counts must match the model with
        no garbage left."""
        with self.tracer.span(GC_SNAPSHOTS):
            self.store.gc_snapshots(keep=1)
            self.store.gc_snapshots(keep=1)
        with self.tracer.span(GC):
            g = self.graph.gc()
        self.garbage = 0
        with self.tracer.span(DOCTOR):
            problems = {k: df.count() for k, df in g.doctor().items()}
        self.doctor_problems = problems
        return self.warmup_ok and not any(problems.values()) and g.db_info() == self.expected_counts()

    def detail(self) -> dict:
        return {
            "graph": self.initial_counts,
            "batch": self.BATCH,
            "final_counts": self.expected_counts(),
            "doctor": getattr(self, "doctor_problems", None),
        }


def _snapshot_dirs(root: str) -> dict[str, int]:
    """Bytes of every ``snap-<n>`` directory below ``root``, by path."""
    out = {}
    for dirpath, dirs, _files in os.walk(root):
        for d in dirs:
            if d.startswith("snap-"):
                out[os.path.join(dirpath, d)] = dir_bytes(os.path.join(dirpath, d))
    return out


class IvmCC:
    """One changefeed batch per op applied to ``graph_queries.CCIvm``,
    followed by ``compact()``: an ``insert_batch`` of seeded random edges
    over 16,030 ids (the graph workloads' vertex count), or a
    ``delete_batch`` of seeded live edges. Set-up applies one warm-up insert
    batch; a round is one insert and one delete, so every third batch of a
    one-round run is a delete. No compiler and no graph build. The final
    ``flat_labels()`` must equal a driver-side union-find over the
    surviving edges."""

    INSERTS = 300
    DELETES = 10
    PATTERN = ("insert", "delete")
    ops_per_round = len(PATTERN)

    N_IDS = 16_030

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.store_dir = os.path.join(work, "ccivm")
        self.ingest_rows = 0
        self.written_bytes: list[int] = []
        self.commits = 0
        self.delete_stats: list[dict] = []

    def prepare_inputs(self) -> None:
        self.rng = random.Random(self.seed * 7919 + 4)
        self.ids = [f"v{k}" for k in range(self.N_IDS)]
        self.live: list[tuple[str, str]] = []

    def _edges(self, n: int) -> list[tuple[str, str]]:
        """``n`` new edges, endpoints in sorted order and none already live,
        so the union-find model and the store agree on edge identity."""
        live, out = set(self.live), []
        while len(out) < n:
            e = tuple(sorted(self.rng.sample(self.ids, 2)))
            if e not in live:
                live.add(e)
                out.append(e)
        return out

    def setup(self):
        from gravitydb_spark.graph_queries import CCIvm

        self.ivm = CCIvm(self.spark, self.store_dir)
        first = self._edges(self.INSERTS)  # warm-up batch, bid 0
        self.ivm.insert_batch(self.spark.createDataFrame(first, "src string, dst string"), 0)
        self.ivm.compact()
        self.live.extend(first)
        self.snaps = _snapshot_dirs(self.store_dir)

    def op(self, i: int):
        tr, bid = self.tracer, i + 1
        delete = self.PATTERN[i % len(self.PATTERN)] == "delete"
        if delete:
            doomed = self.rng.sample(self.live, self.DELETES)
            frame = self.spark.createDataFrame(doomed, "src string, dst string")
            with tr.span("ccivm.delete"):
                self.ivm.delete_batch(frame, bid)
            gone = set(doomed)
            self.live = [e for e in self.live if e not in gone]
            self.delete_stats.append(dict(self.ivm.last_delete_stats))
        else:
            edges = self._edges(self.INSERTS)
            frame = self.spark.createDataFrame(edges, "src string, dst string")
            with tr.span("ccivm.insert"):
                self.ivm.insert_batch(frame, bid)
            self.live.extend(edges)
        with tr.span("ccivm.compact"):
            self.ivm.compact()
        return delete

    def check(self, i: int, was_delete) -> bool:
        snaps = _snapshot_dirs(self.store_dir)
        new = [p for p in snaps if p not in self.snaps]
        self.written_bytes.append(sum(snaps[p] for p in new))
        self.commits += len(new)
        self.snaps = snaps
        return not was_delete or self.delete_stats[-1]["deleted"] == self.DELETES

    def finish(self) -> bool:
        with self.tracer.span("ccivm.flat_labels"):
            rows = self.ivm.flat_labels().collect()
        label = {r["id"]: r["component"] for r in rows}
        parent: dict[str, str] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.live:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        # every id, so that a stale label pointing at a vertex no live edge
        # touches still splits the partition
        nodes = set(self.ids)

        def partition(key):
            groups: dict[str, set] = {}
            for v in nodes:
                groups.setdefault(key(v), set()).add(v)
            return {frozenset(g) for g in groups.values()}

        self.components = len(partition(find))
        return partition(find) == partition(lambda v: label.get(v, v))

    def store_bytes(self) -> int:
        return dir_bytes(self.store_dir)

    def o1_delete_ratio(self) -> float:
        deleted = sum(s["deleted"] for s in self.delete_stats)
        return sum(s["deleted"] - s["tree"] for s in self.delete_stats) / deleted if deleted else 0.0

    def detail(self) -> dict:
        return {
            "ids": self.N_IDS,
            "inserts_per_batch": self.INSERTS,
            "deletes_per_batch": self.DELETES,
            "live_edges": len(self.live),
            "components": getattr(self, "components", None),
            "delete_stats": self.delete_stats,
        }


# BENCHMARK.json lists crud_commit and ivm_cc; zoe_read is run by hand
# (see perfbench/README.md)
WORKLOADS = {"zoe_read": ZoeRead, "crud_commit": CrudCommit, "ivm_cc": IvmCC}

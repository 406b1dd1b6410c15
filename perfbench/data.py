"""Seeded inputs for the benchmark and the DuckDB answers they are checked against.

Everything the package receives is derived from the workload seed: the
TPC-H-shaped dimension tables (region, nation, customer, supplier), the
zoe query parameters, the CRUD batches and the changefeed edges. The same
seed always yields byte-identical inputs.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 dimension sizes: 16,030 vertices and 16,025 edges once ingested
N_REGIONS = 5
N_NATIONS = 25
N_CUSTOMERS = 15_000
N_SUPPLIERS = 1_000


def _token(rng: random.Random) -> str:
    return f"{rng.getrandbits(32):08x}"


def _dealt(rng: random.Random, n: int) -> list[int]:
    """Nation keys for ``n`` rows, dealt evenly in a seeded order: every
    nation gets the same number of rows, so a traversal's result size does
    not depend on which nation a seed picks."""
    keys = [i % N_NATIONS for i in range(n)]
    rng.shuffle(keys)
    return keys


def generate_tables(seed: int, out_dir: str) -> dict[str, str]:
    """Write region/nation/customer/supplier parquet under ``out_dir``.

    Names carry a seeded token so every property value is unique within a
    run and differs between seeds; nations are dealt five to a region
    after a seeded shuffle, customers and suppliers are dealt evenly over
    the nations."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    regions = [(k, f"REGION_{k}_{_token(rng)}") for k in range(N_REGIONS)]
    order = list(range(N_NATIONS))
    rng.shuffle(order)
    nations = [
        (nk, f"NATION_{nk}_{_token(rng)}", order.index(nk) // (N_NATIONS // N_REGIONS))
        for nk in range(N_NATIONS)
    ]
    customers = [
        (ck, f"Customer#{ck:09d}_{_token(rng)}", nk)
        for ck, nk in zip(range(1, N_CUSTOMERS + 1), _dealt(rng, N_CUSTOMERS))
    ]
    suppliers = [
        (sk, f"Supplier#{sk:09d}_{_token(rng)}", nk)
        for sk, nk in zip(range(1, N_SUPPLIERS + 1), _dealt(rng, N_SUPPLIERS))
    ]
    tables = {
        "region": (["r_regionkey", "r_name"], regions),
        "nation": (["n_nationkey", "n_name", "n_regionkey"], nations),
        "customer": (["c_custkey", "c_name", "c_nationkey"], customers),
        "supplier": (["s_suppkey", "s_name", "s_nationkey"], suppliers),
    }
    paths = {}
    for name, (cols, rows) in tables.items():
        arrays = [pa.array([r[i] for r in rows]) for i in range(len(cols))]
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_arrays(arrays, names=cols), path)
        paths[name] = path
    return paths


class Oracle:
    """DuckDB answers over the generated parquet, computed once, untimed.

    ``customers_by_nation`` and ``customers_by_region`` hold vertex-id sets;
    zoe set operations are checked by applying the same set algebra to
    them. ``paths_by_nation`` holds the (p0, p1, p2) property triples a
    one-hop ``extract_path_properties`` must return."""

    def __init__(self, data_dir: str):
        import duckdb

        con = duckdb.connect()
        for name in ("region", "nation", "customer", "supplier"):
            path = os.path.join(data_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.nations = [r[0] for r in con.execute("SELECT n_name FROM nation ORDER BY n_nationkey").fetchall()]
        self.regions = [r[0] for r in con.execute("SELECT r_name FROM region ORDER BY r_regionkey").fetchall()]
        self.customers_by_nation: dict[str, set] = {n: set() for n in self.nations}
        for n, cid in con.execute(
            "SELECT n_name, 'c' || c_custkey FROM customer JOIN nation ON n_nationkey = c_nationkey"
        ).fetchall():
            self.customers_by_nation[n].add(cid)
        self.customers_by_region: dict[str, set] = {r: set() for r in self.regions}
        for r, cid in con.execute(
            "SELECT r_name, 'c' || c_custkey FROM customer "
            "JOIN nation ON n_nationkey = c_nationkey JOIN region ON r_regionkey = n_regionkey"
        ).fetchall():
            self.customers_by_region[r].add(cid)
        self.paths_by_nation: dict[str, set] = {n: set() for n in self.nations}
        for n, p0, p1, p2 in con.execute(
            """SELECT n_name, '{"Nation":"' || n_name || '"}', '"LocatedIn"',
                      '{"Customer":"' || c_name || '"}'
               FROM customer JOIN nation ON n_nationkey = c_nationkey"""
        ).fetchall():
            self.paths_by_nation[n].add((p0, p1, p2))
        self.customer_nation = dict(
            con.execute(
                "SELECT 'c' || c_custkey, n_name FROM customer JOIN nation ON n_nationkey = c_nationkey"
            ).fetchall()
        )
        con.close()

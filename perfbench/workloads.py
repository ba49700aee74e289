"""The benchmark's workloads: which calls a run makes, and how each call's
output is checked.

A *unit* is one timed call into the engine. Each workload is a closed loop
with one client: the next unit starts when the previous one has returned.
The workload seed permutes the unit order and, for ``ram_job``, picks the
admin-area selection; the engine sees only the resulting calls.
"""

from __future__ import annotations

import functools
import heapq
import math
import os
import random
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable

from ram_datapipeline_spark import ram_domain as RD

# Scale factor of the generated tables each workload reads.
RAM_JOB_SF = 0.1
OPERATORS_SF = 0.01

N_AREAS, N_SELECTED = 25, 20

# Iterative operators: convergence loops and materialization barriers, one
# per operator module (dedup, graph, similarity).
ITERATIVE_QUERIES = (
    "dedup_connected_components",
    "graph_label_propagation",
    "sim_ivf_retrain_plan",
)

# Routing grid for the CRP units: ram_domain's country grid (its coordinates,
# highway classes, cell size and node hashing) cut down to GRID x GRID nodes.
GRID = 40
GRID_OVERLAY_ROUNDS = 24  # >= overlay hop diameter of 5 x 5 cells, with margin
POI_TYPES = ("hospital", "school", "bank")


@dataclass
class Unit:
    """One timed call.

    ``build`` runs the builder and returns either a DataFrame, which the
    harness then plans and forces with a noop write, or a handle for the
    check when the call already did all its work (the RAM job writes its
    sinks). ``check`` runs after the timed region and returns the number of
    items the unit produced, raising ``CheckFailed`` on a wrong output.
    """

    name: str
    build: Callable[[], object]
    check: Callable[[object], int]
    counts_items: bool = True  # False: the unit counts as one item (a query)


class CheckFailed(AssertionError):
    pass


@dataclass
class Workload:
    name: str
    units: list[Unit]
    stamp: dict = field(default_factory=dict)  # what the seed chose


def seeded_order(names: list[str], seed: int) -> list[str]:
    return random.Random(seed).sample(names, len(names))


def area_selection(seed: int) -> list[int]:
    # a separate stream from the unit order, so adding a unit to a
    # workload does not change the areas another seed selects
    return sorted(random.Random(f"areas-{seed}").sample(range(N_AREAS), N_SELECTED))


# --- output checks -------------------------------------------------------


class Oracle:
    """DuckDB over the same generated tables. Each oracle query runs once,
    at the first check that needs it, so none of it lands in set-up."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.con = None
        self._results: dict[str, object] = {}

    def expected(self, sql: str):
        if self.con is None:
            import duckdb

            from ram_datapipeline_spark.catalog import TABLE_NAMES

            self.con = duckdb.connect()
            self.con.execute("SET threads TO 2")
            for name in TABLE_NAMES:
                path = os.path.join(self.sf_dir, f"{name}.parquet")
                self.con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
        if sql not in self._results:
            self._results[sql] = self.con.execute(sql).df()
        return self._results[sql]


def compare(name: str, actual, expected) -> int:
    """Row count, column names and order-insensitive value hash must match;
    returns the row count."""
    from scripts.verify_driver_contract import value_hash

    if len(actual) != len(expected):
        raise CheckFailed(f"{name}: {len(actual)} rows, oracle has {len(expected)}")
    if sorted(actual.columns) != sorted(expected.columns):
        raise CheckFailed(f"{name}: columns {sorted(actual.columns)} != {sorted(expected.columns)}")
    if value_hash(actual) != value_hash(expected):
        raise CheckFailed(f"{name}: value hash differs from the oracle")
    return len(actual)


# --- ram_job ---------------------------------------------------------------


def ram_job(spark, sf_dir: str, work_dir: str, seed: int, oracle_sql: str) -> Workload:
    """The reference's whole job: every origin in the selected areas gets
    its ETA to the nearest POI of each type, fanned out to five sinks and
    the operation log. Each unit writes into a fresh directory."""
    from ram_datapipeline_spark import plans, sinks

    areas = area_selection(seed)
    counter = iter(range(1 << 30))
    oracle = Oracle(sf_dir)
    expected_sql = (
        f"SELECT * FROM ({oracle_sql}) WHERE aa_id IN ({', '.join(map(str, areas))})"
    )

    def build():
        out = os.path.join(work_dir, f"ram_job_{next(counter)}")
        dfs = plans.run_ram_pipeline(spark, sf_dir, out, selected_aa_ids=areas)
        return out, sinks.flatten_poi_map(dfs["results"]).schema

    def check(result) -> int:
        import shutil

        out, schema = result
        try:
            csv = spark.read.schema(schema).option("header", "true").csv(
                os.path.join(out, "csv")
            )
            return compare("ram_job", csv.toPandas(), oracle.expected(expected_sql))
        finally:
            shutil.rmtree(out, ignore_errors=True)

    return Workload("ram_job", [Unit("ram_job", build, check)], stamp={"areas": areas})


# --- operators: iterative loops and CRP routing ----------------------------


def registry_unit(spark, name: str, sf_dir: str, oracle: Oracle) -> Unit:
    from ram_datapipeline_spark import queries as Q

    entry = Q.REGISTRY[name]

    def check(df) -> int:
        return compare(name, df.toPandas(), oracle.expected(entry.oracle))

    return Unit(name, lambda: entry.builder(spark, sf_dir), check, counts_items=False)


# The grid helpers below mirror ram_domain.synthesize_osm_grid_xml at
# GRID x GRID nodes; keep them in step with it.


def grid_coord(node: int) -> tuple[float, float]:
    return (RD.GRID_LON0 + (node % GRID) * RD.GRID_STEP,
            RD.GRID_LAT0 + (node // GRID) * RD.GRID_STEP)


def grid_ways() -> list[tuple[int, list[int], str]]:
    """(way_id, node refs, highway class): one way per row, one per column."""
    rows = [(10000 + r, [r * GRID + c for c in range(GRID)], r) for r in range(GRID)]
    cols = [(20000 + c, [r * GRID + c for r in range(GRID)], c) for c in range(GRID)]
    return [(w, refs, RD.GRID_HIGHWAYS[i % 5]) for w, refs, i in rows + cols]


def grid_osm_xml() -> str:
    """`.osm` document of the routing grid."""
    lines = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    for n in range(GRID * GRID):
        lon, lat = grid_coord(n)
        lines.append(f'  <node id="{n}" lon="{lon!r}" lat="{lat!r}"/>')
    for way_id, refs, cls in grid_ways():
        nds = "".join(f'    <nd ref="{n}"/>\n' for n in refs)
        lines.append(f'  <way id="{way_id}">\n{nds}    <tag k="highway" v="{cls}"/>\n  </way>')
    lines.append("</osm>")
    return "\n".join(lines) + "\n"


def grid_edges(speeds: dict[str, float]) -> list[tuple[int, int, int]]:
    """Reference edge list of the grid, computed without the engine: both
    directions of every consecutive node pair, planar drive seconds at the
    class speed (111 km per degree), rounded half up, in the same IEEE
    operation order as the engine's extraction."""
    out = []
    for _, refs, cls in grid_ways():
        for a, b in zip(refs, refs[1:]):
            (xa, ya), (xb, yb) = grid_coord(a), grid_coord(b)
            d = math.sqrt((xa - xb) * (xa - xb) + (ya - yb) * (ya - yb))
            w = math.floor(d * 111.0 / speeds[cls] * 3600.0 + 0.5)
            out += [(a, b, w), (b, a, w)]
    return out


def dijkstra_by_type(edges: list[tuple[int, int, int]], sources: dict[int, list[int]]):
    """Multi-source Dijkstra per source id: {src_id: {node: dist}}."""
    adj = defaultdict(list)
    for s, d, w in edges:
        adj[s].append((d, w))
    out = {}
    for sid, nodes in sources.items():
        dist = {n: 0 for n in nodes}
        pq = [(0, n) for n in nodes]
        heapq.heapify(pq)
        while pq:
            du, u = heapq.heappop(pq)
            if du > dist[u]:
                continue
            for v, w in adj[u]:
                if du + w < dist.get(v, 1 << 62):
                    dist[v] = du + w
                    heapq.heappush(pq, (du + w, v))
        out[sid] = dist
    return out


def routing_unit(spark, name: str, sf_dir: str, osm_path: str) -> Unit:
    """Many-to-many ETA (the osrm.table analog) from POIs of each type to
    every origin over the `.osm` grid, through the engine's source reader
    and its CRP router; checked against Dijkstra over the grid's reference
    edge list. ``build`` is suite.eta_queries.q_eta_routed_osm_large at
    GRID x GRID nodes; mirror changes to that builder here. The grid's
    overlay fits the router's default budget, so only the single-level CRP
    backend (partitioned_many_to_many) runs, never the hierarchy levels."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ram_datapipeline_spark.catalog import load_tables
    from ram_datapipeline_spark.operators import routing
    from ram_datapipeline_spark.sources import osm

    n_nodes, cell = GRID * GRID, RD.GRID_CELL

    def keys(table: str, col: str) -> list[int]:
        path = os.path.join(sf_dir, f"{table}.parquet")
        return pq.read_table(path, columns=[col])[col].to_pylist()

    def build():
        t = load_tables(spark, sf_dir)
        nodes = osm.read_osm_nodes(spark, osm_path)
        ways = osm.read_osm_ways(spark, osm_path)
        edges = osm.osm_ways_to_road_edges(nodes, ways).select(
            "src", "dst", F.floor(F.col("w") + 0.5).cast("long").alias("w")
        )
        cells = nodes.select(
            "node_id",
            F.expr(
                f"(node_id div {GRID} div {cell}) * {GRID // cell} + (node_id % {GRID} div {cell})"
            ).alias("cell"),
        )
        pois = t["supplier"].select(
            F.expr("s_suppkey % 3").alias("src_id"),
            F.expr(f"(s_suppkey * {RD.GRID_POI_MULT}) % {n_nodes}").alias("node_id"),
        )
        origins = t["customer"].select(
            F.col("c_custkey").alias("tgt_id"),
            F.expr(f"(c_custkey * {RD.GRID_ORIGIN_MULT}) % {n_nodes}").alias("node_id"),
        )
        dist = routing.route_many_to_many(
            edges, pois, origins, cells=cells,
            n_cell_squarings=6, n_overlay_rounds=GRID_OVERLAY_ROUNDS,
        )
        poi_type = F.expr(
            "CASE src_id WHEN 0 THEN 'hospital' WHEN 1 THEN 'school' ELSE 'bank' END"
        )
        return dist.select(
            F.col("tgt_id").alias("origin_id"), poi_type.alias("poi_type"),
            F.col("dist").alias("eta_s"),
        )

    @functools.cache
    def expected() -> dict[tuple[int, str], int]:
        src_nodes = defaultdict(list)
        for k in keys("supplier", "s_suppkey"):
            src_nodes[k % 3].append((k * RD.GRID_POI_MULT) % n_nodes)
        ref = dijkstra_by_type(grid_edges(osm.HIGHWAY_SPEED_KMH), src_nodes)
        return {
            (o, POI_TYPES[sid]): d[(o * RD.GRID_ORIGIN_MULT) % n_nodes]
            for sid, d in ref.items() for o in keys("customer", "c_custkey")
            if (o * RD.GRID_ORIGIN_MULT) % n_nodes in d
        }

    def check(df) -> int:
        got = {(int(o), p): int(e) for o, p, e in df.toPandas().itertuples(index=False)}
        want = expected()
        if got != want:
            bad = len(set(got.items()) ^ set(want.items()))
            raise CheckFailed(f"{name}: {bad} (origin, poi_type) ETAs differ from Dijkstra")
        return len(got)

    return Unit(name, build, check, counts_items=False)


def operators(spark, sf_dir: str, work_dir: str, seed: int) -> Workload:
    """Convergence loops and materialization barriers (dedup, graph and
    similarity operators) plus many-to-many CRP routing over an `.osm`
    grid."""
    oracle = Oracle(sf_dir)
    osm_path = os.path.join(work_dir, "grid.osm")
    with open(osm_path, "w", encoding="utf-8") as fh:
        fh.write(grid_osm_xml())
    units = {n: registry_unit(spark, n, sf_dir, oracle) for n in ITERATIVE_QUERIES}
    units["route_crp_grid"] = routing_unit(spark, "route_crp_grid", sf_dir, osm_path)
    order = seeded_order(sorted(units), seed)
    return Workload("operators", [units[n] for n in order], stamp={"order": order})


WORKLOADS = ("ram_job", "operators")
REGISTRY_QUERIES = {"ram_job": ("ram_full_job",), "operators": ITERATIVE_QUERIES}

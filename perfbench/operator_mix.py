"""operator_mix: one client cycles a seed-permuted list of
``__spark_entry__.queries()`` entries over the TPC-H-like test tables in
``perfbench/data``, one from every query family the pipeline workload
bypasses.  The tables are fixed; the seed only permutes the order.

Each query is checked against its DuckDB ``oracle_sql()`` twin, computed
once in set-up: column names, column types and the value multiset.

The traced run adds one layer the timed loop leaves out to keep a run
short: connected components on a seeded Zipf graph, the only carrier of
the distributed contraction loop, checked against a union-find oracle.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import (
    JobGroupProbe, Tracer, empty_layers, geomean, median, plan_counts,
)

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
CC = "connected_components"
# (operation, layer, scale).  The two queries driven by lineitem read
# the 0.01 scale: at 0.1 one call costs 5 s (flatten_list_counts) and
# 9-12 s (path_zero_or_one) on four cores, which a run cannot afford.
OPERATIONS = (
    ("frame_error_codes", "frame_general", "sf0.1"),  # general compiler
    ("flatten_list_counts", "frame_general", "sf0.01"),  # lists, fallback
    ("path_zero_or_one", "paths", "sf0.01"),
    ("ntriples_roundtrip_counts", "serialize", "sf0.1"),
    ("store_frame_names", "store", "sf0.1"),
    ("cosine_dup_pairs", "similarity", "sf0.1"),
)
CC_EDGES = 40_000
# the driver union-find crossover, scaled with the graph so the call
# takes the same path a graph above the library default does: one
# distributed contraction phase, then the driver finish
CC_DRIVER_THRESHOLD = CC_EDGES // 2
# query sinks the program writes outside the session's directories
_TMP_SINKS = ("/tmp/ramp_store_frame_{}", "/tmp/ramp_nt_sink_{}")


def write_edges(path: str, seed: int, n_edges: int) -> None:
    """Zipf-skewed edge list: node i links to a node drawn with density
    rising steeply towards 0 (the graph leg of bench.py at its skew)."""
    rng = np.random.default_rng(seed)
    dst = np.floor(n_edges * rng.random(n_edges) ** 3).astype(np.int64)
    pq.write_table(pa.table({"src": [f"n{k}" for k in range(n_edges)],
                             "dst": [f"n{k}" for k in dst]}), path)


def _duck_type(spark_type: str) -> str:
    if spark_type.startswith("array<"):
        return _duck_type(spark_type[6:-1]) + "[]"
    return {"bigint": "BIGINT", "int": "INTEGER", "string": "VARCHAR",
            "double": "DOUBLE", "float": "FLOAT", "boolean": "BOOLEAN",
            "smallint": "SMALLINT", "tinyint": "TINYINT",
            "timestamp": "TIMESTAMP", "date": "DATE"}.get(spark_type,
                                                          spark_type)


def _cell(v) -> str:
    if isinstance(v, float):
        return repr(round(v, 9))
    if v is None:
        return ""
    return str(v)


def _multiset(rows, cols) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("\x1f".join(_cell(row[i]) for i in order) for row in rows)


def _union_find(pairs) -> dict:
    parent: dict = {}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


class OperatorMix:
    def __init__(self, spark, work: str, seed: int, cores: int) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.seed = seed
        self.edges = os.path.join(work, "edges.parquet")
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.order = list(OPERATIONS)
        random.Random(seed).shuffle(self.order)
        self.pass_len = len(self.order)
        self._next = 0
        self.expected: dict = {}

    # -- set-up ------------------------------------------------------------
    def prepare(self) -> None:
        """Write the seeded edge list and compute every oracle answer."""
        import duckdb

        write_edges(self.edges, self.seed, CC_EDGES)
        for name, _layer, scale in OPERATIONS:
            con = duckdb.connect()
            for f in os.listdir(os.path.join(DATA, scale)):
                con.execute(
                    f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA, scale, f)}')")
            rel = con.sql(self.oracles[name])
            cols = [d[0] for d in rel.description]
            types = dict(zip(cols, (str(t) for t in rel.types)))
            self.expected[name] = (types, _multiset(rel.fetchall(), cols))
            con.close()
        e = pq.read_table(self.edges).to_pydict()
        self.expected[CC] = _union_find(
            (a, b) for a, b in zip(e["src"], e["dst"]) if a != b)

    # -- one operation -------------------------------------------------------
    def _call(self, name: str, scale: str, stats: dict):
        """The lazy result of one operation."""
        if name == CC:
            from ramp_shapes_spark.pipeline.canonicalize import (
                connected_components,
            )
            return connected_components(
                self.spark.read.parquet(self.edges), hot_k=64, stats=stats,
                driver_threshold=CC_DRIVER_THRESHOLD)
        return self.queries[name](self.spark, os.path.join(DATA, scale))

    @staticmethod
    def _collect(df):
        """The result as the client receives it, in Arrow batches."""
        return df.schema, df.toArrow()

    def run_once(self, name=None) -> tuple:
        """(seconds, output, operation name, items) of the named
        operation, or else of the next one of the cycle; one operation is
        one item."""
        if name is None:
            name, _layer, scale = self.order[self._next % self.pass_len]
            self._next += 1
        else:
            scale = next(op[2] for op in OPERATIONS if op[0] == name)
        t0 = time.perf_counter()
        schema, table = self._collect(self._call(name, scale, {}))
        return time.perf_counter() - t0, (name, schema, table), name, 1

    def check(self, out) -> dict:
        name, schema, table = out
        rows = list(zip(*(c.to_pylist() for c in table.columns)))
        if name == CC:
            truth = self.expected[CC]
            col = {f.name: i for i, f in enumerate(schema.fields)}
            hit = sum(1 for r in rows
                      if truth.get(r[col["node"]]) == r[col["component"]])
            return {"ok": hit == len(rows) == len(truth), "hit": hit,
                    "n_out": len(rows), "n_truth": len(truth)}
        types, want = self.expected[name]
        got_types = {f.name: _duck_type(f.dataType.simpleString())
                     for f in schema.fields}
        got = _multiset(rows, [f.name for f in schema.fields])
        hit = sum((got & want).values())
        n_truth = sum(want.values())
        return {"ok": got_types == types and got == want, "hit": hit,
                "n_out": len(rows), "n_truth": n_truth}

    @staticmethod
    def latency(samples) -> float:
        """Geometric mean over operations of each one's median time."""
        by_name: dict = {}
        for seconds, name, _items in samples:
            by_name.setdefault(name, []).append(seconds)
        return geomean([median(v) for v in by_name.values()])

    # -- traced run --------------------------------------------------------
    def traced(self, tracer: Tracer) -> dict:
        """One pass with each operation's call and result collection under
        their own job groups, attributed to the operation's layer, then
        the ``cc`` layer: one untraced warm-up call and one traced call.

        ``overlap_s`` and ``trace_overhead_s`` are left to kg_build: here
        the tracing cost is below the pass-to-pass noise (a traced pass
        ran faster than the warm untraced pass just before it)."""
        checks = []
        layers = empty_layers()
        probe = JobGroupProbe(self.spark, tracer)
        outs = []

        def traced_op(name, layer, scale, stats):
            rec = layers[layer]
            with tracer.span(layer):
                with probe.group(f"{name}.call", rec, "call_s"):
                    df = self._call(name, scale, stats)
                py_nodes, exchanges = plan_counts(df)
                rec["python_nodes"] += py_nodes
                rec["exchanges"] += exchanges
                with probe.group(f"{name}.exec", rec, "exec_s"):
                    schema, table = self._collect(df)
                rec["rows_out"] += table.num_rows
            outs.append((name, schema, table))

        t0 = time.time()
        for name, layer, scale in self.order:
            traced_op(name, layer, scale, {})
        t1 = time.time()
        traced_s = t1 - t0
        coverage = tracer.top_level_coverage(t0, t1)

        schema, table = self._collect(self._call(CC, "", {}))
        checks.append(self.check((CC, schema, table))["ok"])
        cc_stats: dict = {}
        traced_op(CC, "cc", "", cc_stats)
        checks.extend(self.check(out)["ok"] for out in outs)
        return {
            "layers": layers,
            "checks": checks + [coverage >= 0.9],
            "extra": {
                "cc.phases": cc_stats.get("phases", 0),
                "cc.rounds": cc_stats.get("rounds", 0),
                "cc.edges_left_ratio":
                    cc_stats.get("round_edges", [0])[0] / CC_EDGES,
                "trace.span_coverage": coverage,
            },
            "probe": probe,
            "notes": {"traced_s": traced_s},
        }

    def close(self) -> None:
        app_id = self.spark.sparkContext.applicationId
        for pattern in _TMP_SINKS:
            shutil.rmtree(pattern.format(app_id), ignore_errors=True)

"""kg_build: the transcript -> triple-table pipeline as pipeline/job.py
runs it (parquet input, ``run_pipeline(track_errors=True)`` into a fresh
sink directory, then the frame error count).

One operation is one pipeline run over the whole corpus; its items are
the corpus turns.  Its output is checked against the generator's own
record of the mentions it embedded (``datagen.ground_truth_mentions``),
which never looks at the text, so the check is independent of the
``mentions`` layer.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from common import JobGroupProbe, Tracer, empty_layers, median, plan_counts

N_CONVERSATIONS = 1000  # about 5.5k turns; README says why not more
N_ENTITIES = 2000
N_BUCKETS = 16
GATE = 0.95  # the paper's precision/recall gate on extracted mentions


def _kg(name: str) -> str:
    from ramp_shapes_spark.pipeline.kgshapes import kg
    return kg(name)


class KgBuild:
    pass_len = 1  # operations per pass over the workload

    def __init__(self, spark, work: str, seed: int, cores: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.input = os.path.join(work, "transcripts.parquet")
        self.n_items = 0
        self.truth: set = set()
        self._runs = 0

    # -- set-up ------------------------------------------------------------
    def prepare(self) -> None:
        """Write the seeded corpus to a parquet table and build the set
        of (turn, canonical entity, surface) facts it must yield."""
        from ramp_shapes_spark.pipeline.datagen import (
            generate_transcripts, ground_truth_mentions,
        )

        shutil.rmtree(self.input, ignore_errors=True)
        generate_transcripts(
            self.spark, N_CONVERSATIONS, seed=self.seed,
            n_entities=N_ENTITIES, partitions=self.cores,
        ).write.parquet(self.input)
        self.n_items = self.spark.read.parquet(self.input).count()
        gt = ground_truth_mentions(
            self.spark, N_CONVERSATIONS, seed=self.seed,
            n_entities=N_ENTITIES, partitions=self.cores,
        ).collect()
        self.truth = {
            (f"turn:{r['conv_id']}:{r['turn_idx']}",
             f"entity:acme{r['rank']:05d}", r["surface"])
            for r in gt
        }

    # -- one operation -------------------------------------------------------
    def _fresh_sink(self) -> str:
        self._runs += 1
        path = os.path.join(self.work, f"sink-{self._runs}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def run_once(self, name=None) -> tuple:
        """(seconds, output, operation name, items) of one pipeline
        run; the workload has no other operation to name."""
        from ramp_shapes_spark.pipeline.run import run_pipeline

        sink = self._fresh_sink()
        t0 = time.perf_counter()
        turns = self.spark.read.parquet(self.input)
        res = run_pipeline(self.spark, turns, workdir=sink,
                           n_buckets=N_BUCKETS, track_errors=True)
        n_errors = res.frame_errors.count()
        return time.perf_counter() - t0, (sink, n_errors), "pipeline", \
            self.n_items

    def check(self, out, keep: bool = False) -> dict:
        """Precision/recall of the sink's mention facts against the
        ground truth, and zero frame errors on the clean corpus."""
        sink, n_errors = out
        facts = self._facts(sink)
        hit = len(facts & self.truth)
        ok = (hit >= GATE * len(facts) and hit >= GATE * len(self.truth)
              and n_errors == 0)
        if not keep:
            shutil.rmtree(sink, ignore_errors=True)
        return {"ok": ok, "hit": hit, "n_out": len(facts),
                "n_truth": len(self.truth)}

    def _facts(self, sink: str) -> set:
        from pyspark.sql import functions as F

        t = self.spark.read.parquet(os.path.join(sink, "data"))

        def rel(p, s, o):
            return t.filter(F.col("p") == _kg(p)).select(
                F.col("s_value").alias(s), F.col("o_value").alias(o))

        rows = (
            rel("mentions", "turn", "mo")
            .join(rel("entity", "mo", "entity"), "mo")
            .join(rel("surface", "mo", "surface"), "mo")
            .select("turn", "entity", "surface")
            .collect()
        )
        return {(r["turn"], r["entity"], r["surface"]) for r in rows}

    @staticmethod
    def latency(samples) -> float:
        return median([s[0] for s in samples])

    def close(self) -> None:
        pass

    # -- traced twin ---------------------------------------------------------
    def traced(self, tracer: Tracer) -> dict:
        """Run every layer of ``run_pipeline`` through its public
        function, in pipeline order, forcing each layer's output at the
        boundary under its own job group.  The side threads of
        ``run_pipeline`` are replaced by sequential calls, so each layer
        is timed alone.  Also runs the untraced pipeline once and checks
        that both sinks hold identical buckets."""
        from pyspark.sql import functions as F

        from ramp_shapes_spark.flatten import flatten_triples
        from ramp_shapes_spark.frame import FrameEngine
        from ramp_shapes_spark.pipeline.canonicalize import (
            canonical_entity_map,
        )
        from ramp_shapes_spark.pipeline.kgshapes import build_kg_catalog
        from ramp_shapes_spark.pipeline.materialize import (
            materialize_triples,
        )
        from ramp_shapes_spark.pipeline.mentions import (
            detect_mentions, link_edges, score_links,
        )
        from ramp_shapes_spark.pipeline.run import (
            canonicalize_triples, extraction_triples,
        )

        plain_s, plain_out, _, _ = self.run_once()
        plain_check = self.check(plain_out, keep=True)

        layers = empty_layers()
        probe = JobGroupProbe(self.spark, tracer)
        cached: list = []

        def persist_count(df):
            df = df.persist()
            cached.append(df)
            return df, df.count()

        def layer(name, build, force=persist_count):
            rec = layers[name]
            with tracer.span(name):
                with probe.group(f"{name}.call", rec, "call_s"):
                    out = build()
                py_nodes, exchanges = plan_counts(out)
                rec["python_nodes"] += py_nodes
                rec["exchanges"] += exchanges
                with probe.group(f"{name}.exec", rec, "exec_s"):
                    out, rows = force(out)
                rec["rows_out"] += rows
            return out

        def checkpoint_count(df):
            df = df.localCheckpoint(eager=True)
            return df, df.count()

        sink = self._fresh_sink()
        t0 = time.time()
        turns = self.spark.read.parquet(self.input)
        scored = layer("mentions",
                       lambda: score_links(detect_mentions(turns)))
        ext = layer("extract", lambda: extraction_triples(turns, scored))
        node_map = layer(
            "canonicalize",
            lambda: canonical_entity_map(link_edges(scored), hot_k=64),
            force=checkpoint_count)
        catalog, turn_shape = build_kg_catalog()
        holder: dict = {}

        def frame():
            engine = FrameEngine(self.spark, catalog, ext,
                                 diagnostics=False, track_errors=True)
            holder["result"] = engine.frame(turn_shape)
            return holder["result"].matches

        framed = layer("frame", frame)
        flat = layer("flatten", lambda: flatten_triples(
            framed.select(F.col("focus")["value"].alias("seed"), "value"),
            catalog, turn_shape, seed_col="seed"))
        canonical = layer("rewrite",
                          lambda: canonicalize_triples(flat, node_map))

        def write():
            materialize_triples(canonical, sink, n_buckets=N_BUCKETS,
                                input_fingerprint="", spark=self.spark)
            return self.spark.read.parquet(os.path.join(sink, "data"))

        layer("sink", write, force=lambda df: (df, df.count()))
        layer("frame_errors", lambda: holder["result"].errors,
              force=lambda df: (df, df.count()))
        t1 = time.time()
        traced_s = t1 - t0

        twin_manifests = _manifests(sink)
        plain_manifests = _manifests(plain_out[0])
        data_bytes = _tree_bytes(os.path.join(sink, "data"))
        twin_check = self.check((sink, layers["frame_errors"]["rows_out"]),
                                keep=True)
        for df in cached:
            df.unpersist()
        for path in (sink, plain_out[0]):
            shutil.rmtree(path, ignore_errors=True)

        coverage = tracer.top_level_coverage(t0, t1)
        layer_sum = sum(rec["call_s"] + rec["exec_s"]
                        for rec in layers.values())
        same = twin_manifests == plain_manifests and bool(twin_manifests)
        checks = [plain_check["ok"], twin_check["ok"], same,
                  coverage >= 0.9]
        return {
            "layers": layers,
            "checks": checks,
            "extra": {
                "overlap_s": layer_sum - plain_s,
                "trace_overhead_s": traced_s - plain_s,
                "trace.span_coverage": coverage,
                "sink.bytes_per_triple":
                    data_bytes / max(layers["sink"]["rows_out"], 1),
            },
            "probe": probe,
            "notes": {"manifests_match": same, "plain_s": plain_s,
                      "traced_s": traced_s},
        }


def _manifests(sink: str) -> dict:
    """pbucket -> (rows, checksum) from the sink's lineage manifests."""
    out = {}
    mdir = os.path.join(sink, "manifests")
    for name in sorted(os.listdir(mdir)):
        with open(os.path.join(mdir, name)) as fh:
            m = json.load(fh)
        out[m["pbucket"]] = {"rows": m["rows"], "checksum": m["checksum"]}
    return out


def _tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total

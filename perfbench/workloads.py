"""The benchmark's workloads: seeded inputs, procedure calls, oracles.

A workload builds its inputs from the seed (``setup_inputs``), computes
its oracles once (``build_oracles``), and then runs its procedure
calls (``OPS``) in order, once per pass. ``run_op`` is the timed
region: the call into ``linkgraph`` until its result is written.
``check`` compares the written result with the oracle afterwards.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

from linkgraph import connected_components, label_propagation, pagerank, synth, triangle_count
from linkgraph.checkpoint import pin_table
from linkgraph.ingest import derive_graph
from linkgraph.io import read_table, write_results

from perfbench import oracles


@dataclass
class PassContext:
    tracer: object
    out_dir: str
    ckpt_dir: str


@dataclass
class OpOutput:
    path: str | None = None
    stats: dict = field(default_factory=dict)
    write: dict = field(default_factory=dict)
    result: object = None


def _write(ctx: PassContext, df, name: str) -> tuple[str, dict]:
    path = os.path.join(ctx.out_dir, name)
    with ctx.tracer.span("io.write_results"):
        return path, write_results(df, path)


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


class Workload:
    NAME = ""
    OPS: tuple[str, ...] = ()
    # supersteps of the "pagerank" op, for pagerank_edges_per_s
    PAGERANK_STEPS = 0
    WARMUP_PASSES = 1

    def __init__(self, spark, seed: int, work: str, partitions: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.partitions = partitions
        self.oracle: dict = {}

    def setup_inputs(self) -> None:
        raise NotImplementedError

    def build_oracles(self) -> None:
        raise NotImplementedError

    def run_op(self, op: str, ctx: PassContext) -> OpOutput:
        raise NotImplementedError

    def check(self, op: str, out: OpOutput) -> str | None:
        raise NotImplementedError

    def end_pass(self) -> None:
        """Free what the pass kept live for later ops (not timed)."""


class PowerlawCore4(Workload):
    """The four core procedures on one power-law edge table pinned in
    set-up, skew paths on "auto", nothing durable."""

    NAME = "powerlaw-core4"
    OPS = ("pagerank", "wcc", "lpa", "triangles")
    N_NODES = 1 << 13
    N_EDGES = 1 << 16
    PAGERANK_STEPS = 5
    LPA_ROUNDS = 3
    # the pass after a single warm-up pass still ran ~30% slower than
    # later ones, and it spread up to 1.6x wider across runs
    WARMUP_PASSES = 2

    edges = None

    def setup_inputs(self) -> None:
        df = synth.synth_edge_table(
            self.spark, n_nodes=self.N_NODES, n_edges=self.N_EDGES,
            seed=self.seed, num_partitions=self.partitions,
        )
        self.edges = pin_table(df)

    def build_oracles(self) -> None:
        pdf = self.edges.toPandas()
        src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
        self.oracle = {
            "pagerank": oracles.pagerank(src, dst, self.PAGERANK_STEPS),
            "wcc": oracles.components(src, dst),
            "lpa": oracles.label_propagation(src, dst, self.LPA_ROUNDS),
            "triangles": oracles.triangles(src, dst),
        }

    def run_op(self, op: str, ctx: PassContext) -> OpOutput:
        tr = ctx.tracer
        if op == "pagerank":
            with tr.span("pagerank.pagerank"):
                # static_folding: the static-node split the engine turns
                # on by itself from 2M edges; same ranks, measured here
                r = pagerank(
                    self.edges, max_iter=self.PAGERANK_STEPS, hot_key_salt="auto",
                    static_folding=True,
                )
            path, w = _write(ctx, r.scores, op)
        elif op == "wcc":
            with tr.span("components.connected_components"):
                r = connected_components(self.edges, hub_cap="auto")
            path, w = _write(ctx, r.components, op)
        elif op == "lpa":
            with tr.span("labelprop.label_propagation"):
                r = label_propagation(self.edges, max_iter=self.LPA_ROUNDS, hub_cap="auto")
            path, w = _write(ctx, r.labels, op)
        elif op == "triangles":
            with tr.span("triangles.triangle_count"):
                r = triangle_count(self.edges, hub_cap="auto")
            path, w = _write(ctx, r.counts, op)
        else:
            raise ValueError(op)
        return OpOutput(path=path, stats=r.stats, write=w, result=r)

    def check(self, op: str, out: OpOutput) -> str | None:
        got = _read(out.path)
        if op == "pagerank":
            return oracles.check_ranks(*self.oracle[op], got)
        if op == "wcc":
            return oracles.check_partition(*self.oracle[op], got, "comp")
        if op == "lpa":
            return oracles.check_labels(*self.oracle[op], got)
        return oracles.check_triangles(self.oracle[op], got, out.result.triangle_count)


class CodegraphDurable(Workload):
    """A parquet source catalog -> Arrow-UDF import extraction -> file
    graph, then PageRank on that small graph with a durable checkpoint
    every superstep, and a resume from the last one."""

    NAME = "codegraph-durable"
    OPS = ("ingest", "pagerank", "resume")
    REPOS = 50
    FILES_PER_REPO = 100
    PAGERANK_STEPS = 4
    RESUME_STEPS = 2

    graph = None

    def _source(self):
        return synth.generate_source_table(
            self.spark, repos=self.REPOS, files_per_repo=self.FILES_PER_REPO,
            seed=self.seed, num_partitions=self.partitions,
        )

    def setup_inputs(self) -> None:
        # the parquet stand-in for the Iceberg catalog table
        self.catalog = os.path.join(self.work, "catalog")
        self._source().write.mode("overwrite").parquet(self.catalog)

    def build_oracles(self) -> None:
        # the catalog as written, read by pyarrow rather than the engine
        catalog = _read(self.catalog)
        self.manifest = synth.content_manifest(self.spark.createDataFrame(catalog)).persist()
        self.manifest.count()
        keys, edges = oracles.file_edges(catalog)
        key_id = pd.Series(range(len(keys)), index=keys)
        src = key_id[edges["src_key"]].to_numpy()
        dst = key_id[edges["dst_key"]].to_numpy()
        universe = key_id.to_numpy()
        self.oracle = {
            "keys": keys,
            "edges": set(zip(edges["src_key"], edges["dst_key"])),
            "pagerank": oracles.pagerank(src, dst, self.PAGERANK_STEPS, universe=universe),
            "resume": oracles.pagerank(
                src, dst, self.PAGERANK_STEPS + self.RESUME_STEPS, universe=universe),
        }

    def run_op(self, op: str, ctx: PassContext) -> OpOutput:
        tr = ctx.tracer
        if op == "ingest":
            with tr.span("io.read_table"):
                source = read_table(self.spark, self.catalog)
            with tr.span("ingest.derive_graph"):
                derived = derive_graph(source)
                nodes, file_edges, _repo_edges = derived
                file_edges = file_edges.persist()
                n_edges = file_edges.count()
                n_files = nodes.count()
            self.graph = (derived, nodes, file_edges)
            return OpOutput(stats={"files": n_files, "edges": n_edges}, result=source)
        if op not in ("pagerank", "resume"):
            raise ValueError(op)
        _derived, nodes, file_edges = self.graph
        resume = op == "resume"
        with tr.span("pagerank.pagerank(resume)" if resume else "pagerank.pagerank"):
            r = pagerank(
                file_edges, nodes=nodes.select("id"),
                max_iter=self.PAGERANK_STEPS + (self.RESUME_STEPS if resume else 0),
                checkpoint_dir=os.path.join(ctx.ckpt_dir, "pagerank"),
                checkpoint_every=1, resume=resume,
            )
        path, w = _write(ctx, r.scores, op)
        return OpOutput(path=path, stats=r.stats, write=w, result=r)

    def _key_frame(self, got: pd.DataFrame) -> pd.DataFrame:
        """Engine output with dense ids replaced by the oracle's
        positions in the sorted file-key list."""
        ids = self.graph[1].toPandas()
        pos = pd.Series(range(len(self.oracle["keys"])), index=self.oracle["keys"])
        id_pos = pd.Series(pos[ids["key"]].to_numpy(), index=ids["id"].to_numpy())
        return got.assign(id=id_pos[got["id"]].to_numpy())

    def check(self, op: str, out: OpOutput) -> str | None:
        if op == "ingest":
            bad = synth.verify_ingestion(out.result, self.manifest)
            if bad:
                return f"{bad} sha256 mismatches between the written catalog and the table read back"
            ids = self.graph[1].toPandas().set_index("id")["key"]
            fe = self.graph[2].select("src", "dst").toPandas()
            got = set(zip(ids[fe["src"]].to_numpy(), ids[fe["dst"]].to_numpy()))
            want = self.oracle["edges"]
            if got != want:
                return f"file edges differ: {len(got - want)} extra, {len(want - got)} missing"
            return None
        return oracles.check_ranks(*self.oracle[op], self._key_frame(_read(out.path)))

    def end_pass(self) -> None:
        if self.graph is not None:
            derived, _nodes, file_edges = self.graph
            file_edges.unpersist()
            derived.release()
            self.graph = None


WORKLOADS = {w.NAME: w for w in (PowerlawCore4, CodegraphDurable)}

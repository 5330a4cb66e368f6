"""PageRank — gather-scatter DataFrame plan.

Re-creates the exact semantics of the reference implementation
(pub:algo/.../impl/PageRank.java, proc pub:algo/.../PageRankProc.java;
SURVEY.md §2.1 — numerically validated against the reference test
constant b≈1.9184 on the wiki fixture):

  p_i^(0)   = 1 - d                       (d = damping, default 0.85)
  p_i^(t+1) = (1 - d) + d * sum_{j->i} p_j^(t) / outdeg(j)

Synchronous (Jacobi), NON-normalized (isolated node scores exactly
1-d), dangling nodes leak mass (no redistribution), fixed iteration
count by default; optional ``tol`` (L-inf delta) adds the
convergence-mode the BASELINE metric reports.

Spark plan per superstep (SURVEY.md §2.1 "Spark mapping"):

  contribs = edges_pre JOIN ranks ON src = id        -- gather
             SELECT dst, rank/outdeg AS c
  sums     = contribs GROUP BY dst SUM(c)            -- scatter+combine
  ranks'   = base LEFT JOIN sums ON id = dst
             SELECT id, (1-d) + d*coalesce(s, 0)

The reference's per-target-partition float[] delta buffers
(PageRank.java#ComputeStep) map to Spark's map-side partial
aggregation inside SUM — free via Catalyst (SURVEY.md §4). Its
degree-balanced ComputeStep partitioning maps to AQE skew handling
plus the CSR/salting fast path in linkgraph/csr.py.

Scale notes (100TB design): the loop's edge table is shuffled by src
and sorted ONCE at load and pinned (checkpoint.pin_table). With
adaptive execution off that layout survives the pin, so the
per-iteration join only shuffles the (small-side) ranks state. With it
on (the session default) the pinned table reports no partitioning: the
join broadcasts the ranks state while it is small, and re-shuffles the
edges every superstep once it is not. The groupBy(dst) partial-
aggregates map-side, so hot in-degree hubs ship one partial row per
shuffle partition, not one row per in-edge.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from linkgraph.checkpoint import SuperstepLoop

# static_folding=None turns the static-node split on from this many edges
STATIC_SPLIT_MIN_EDGES = 2_000_000


@dataclass
class PageRankResult:
    scores: DataFrame  # (id: long, rank: double)
    iterations: int
    converged: bool
    delta: float | None
    stats: dict = field(default_factory=dict)
    _caches: list = field(default_factory=list, repr=False)

    def release(self) -> None:
        """Free the caches the lazy ``scores`` still reads: the final
        superstep state and, with the static split, the node table its
        static rows come from. Call once the scores are consumed (read
        or written): afterwards ``scores`` is no longer readable, since
        a non-durable final state is a local checkpoint with no lineage
        to recompute from."""
        from linkgraph.checkpoint import release_state

        for c in self._caches:
            release_state(c)
        self._caches = []


def _node_universe(edges: DataFrame, nodes: DataFrame | None) -> DataFrame:
    if nodes is not None:
        return nodes.select("id")
    return (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def _node_table(
    edges_pre: DataFrame, nodes: DataFrame | None, seen: Observation | None = None
) -> DataFrame:
    """(id, indeg) over the node universe: the caller's ``nodes``
    left-joined to the per-target in-degrees, else every src and dst
    from ONE aggregate over both endpoint columns. ``seen`` receives
    the max in-degree over EVERY target, inside the universe or not."""
    if nodes is None:
        in_deg = (
            edges_pre.select(F.col("src").alias("id"), F.lit(0).alias("_in"))
            .union(edges_pre.select(F.col("dst").alias("id"), F.lit(1).alias("_in")))
            .groupBy("id")
            .agg(F.sum("_in").alias("indeg"))
        )
    else:
        in_deg = edges_pre.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("indeg")
        )
    if seen is not None:
        in_deg = in_deg.observe(seen, F.max("indeg").alias("mx"))
    if nodes is None:
        return in_deg
    return nodes.select("id").join(in_deg, "id", "left").select(
        "id", F.coalesce(F.col("indeg"), F.lit(0)).alias("indeg")
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = None,
    weighted: bool = False,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    hot_key_salt: int | str = 0,
    direction: str = "OUTGOING",
    source_nodes: DataFrame | list | None = None,
    static_folding: bool | None = None,
    termination=None,
    report_delta: bool = False,
) -> PageRankResult:
    """Compute PageRank over an edge table.

    edges: DataFrame(src long, dst long[, weight double]).
    nodes: optional DataFrame(id long) fixing the node universe
      (isolated nodes score exactly 1-damping, like the g..j nodes of
      the reference PageRankTest fixture).
    tol: if set, stop early when L-inf(rank' - rank) < tol and report
      iterations-to-convergence (BASELINE.md metric).
    weighted: contribution rank * w / sum_w(src) instead of
      rank / outdeg (reference PageRank is unweighted; weighted mode is
      this engine's extension for the import-co-occurrence edge table).
    hot_key_salt: when > 0, the per-superstep contribution aggregation
      runs as an EXPLICIT salted two-phase sum — phase 1 groups by
      (dst, hash(src) % salt), phase 2 by dst. Spark's map-side partial
      aggregation already bounds hot-key rows to one per map partition;
      explicit salting additionally spreads a mega-hub's partial rows
      over `salt` reducers, which matters once map-partition counts
      reach the tens of thousands (1000-executor regime).
      ``"auto"`` measures the in-degree distribution at load (observed
      on the pass that pins the loop's tables — the degree_histogram
      skew probe inlined, no action of its own) and engages a 16-way
      salt when the max in-degree of the iterated edges exceeds 32x
      the mean over all nodes: the decision the operator docs tell
      users to make by hand, made from the data.
    source_nodes: personalized PageRank (the later-lineage
      `sourceNodes` option of the reference procedure family): the
      teleport term lands ONLY on the given nodes — tp_i = 1-d for
      i in the source set, 0 elsewhere — so
      p_i^(t+1) = tp_i + d * sum contributions. Non-normalized like
      the base mode: a source with no in-edges scores exactly 1-d and
      any node unreachable from the set scores exactly 0.
    static_folding: force the static-node split on (True) or off
      (False); None (default) auto-enables at >= 2M edges. The split
      is a pure optimization — results are identical either way
      (cross-checked in tests/test_pagerank.py).
    report_delta: fixed-iteration mode only (tol=None). After the
      timed loop, run ONE extra untimed superstep and report the
      distance between the final two iterates in stats as
      `linf_delta` (max |Δrank|) and `l1_delta` (sum |Δrank|). The
      L1 delta contracts by EXACTLY ≤ damping per superstep (each
      node's |Δ| fans out through shares summing to 1, scaled by d),
      and L∞ ≤ L1, so iterations-to-tol is bounded by
      it + 1 + ceil(log(tol / l1_delta) / log(damping)) — the
      BASELINE.json "iterations-to-convergence" component, reported
      by bench.py without paying a per-superstep convergence probe
      inside the timed throughput loop.

    Static-node optimization (scale): nodes with in-degree 0 hold rank
    (1-d) at EVERY iteration (nothing flows into them), so their
    outgoing contribution is constant. It is folded once into a
    per-target baseline `s0`, and the superstep loop iterates ONLY the
    in-degree>0 node set against the dynamic-source edge subset —
    on power-law graphs this cuts per-iteration join/shuffle volume
    substantially while computing the exact same fixed-point.

    ``PageRankResult.release()`` frees what the lazy scores still read
    once they are consumed; a loop of calls that skips it keeps one
    final state (and, with the split, one node table) cached per call.
    """
    spark = edges.sparkSession
    t0 = time.time()
    d = float(damping)
    dirn = direction.upper()
    if dirn == "INCOMING":
        # GraphLoader withDirection parity: rank flows along reversed
        # edges (pub:core/.../core/GraphLoader.java#withDirection)
        edges = edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            *([F.col("weight")] if "weight" in edges.columns else []),
        )
    elif dirn == "BOTH":
        keep = [F.col("weight")] if "weight" in edges.columns else []
        edges = edges.select("src", "dst", *keep).union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *keep)
        )
    elif dirn != "OUTGOING":
        raise ValueError(f"bad direction {direction}")

    srcs = None
    if source_nodes is not None:
        if isinstance(source_nodes, DataFrame):
            srcs = source_nodes.select("id").distinct()
        else:
            srcs = spark.createDataFrame(
                [(int(s),) for s in source_nodes], "id long"
            )

    def _with_tp(df: DataFrame) -> DataFrame:
        """Attach the per-node teleport column tp (alpha on sources,
        0 elsewhere; constant alpha in the classic mode)."""
        if srcs is None:
            return df.withColumn("tp", F.lit(1.0 - d))
        flagged = df.join(
            srcs.select("id").withColumn("_s", F.lit(True)), "id", "left"
        )
        return flagged.withColumn(
            "tp", F.when(F.col("_s"), F.lit(1.0 - d)).otherwise(F.lit(0.0))
        ).drop("_s")

    # share = w / sum_w(src) as ONE window aggregate over partitionBy
    # (src): a groupBy+self-join computes the same thing but scans the
    # upstream twice (two join branches over the full lineage) and
    # shuffles twice — on a derived edge table (Arrow-UDF extraction)
    # the second upstream scan dominates load. The window shuffles once
    # on src and leaves the output HASH-PARTITIONED BY src, the exact
    # layout edges_dyn pins below, so that repartition collapses.
    w = (
        F.coalesce(F.col("weight"), F.lit(1.0))
        if weighted
        else F.lit(1.0)
    )
    win = Window.partitionBy("src")
    edges_pre = (
        edges.select("src", "dst", w.alias("w"))
        .select("src", "dst", (F.col("w") / F.sum("w").over(win)).alias("share"))
    )

    # Every load figure is OBSERVED on the passes that pin the two
    # loop-invariant tables (Observation metrics ride on the pinning
    # action), so the load runs no count or probe action of its own.
    from linkgraph.checkpoint import pin_table, release_state

    seen_nodes, seen_dst = Observation(), Observation()
    split_static = static_folding
    if not split_static:
        # unsplit (or not yet decided): the share table IS the loop's
        # edge table, pre-partitioned AND pre-sorted by src; pinning it
        # (checkpoint + columnar persist, see checkpoint.py) truncates
        # the plan so a fat upstream derivation is analyzed once, not
        # every superstep, and the pinning pass counts it
        seen_edges = Observation()
        edges_dyn = pin_table(
            edges_pre.observe(seen_edges, F.count(F.lit(1)).alias("e"))
            .repartition("src").sortWithinPartitions("src")
        )
        n_edges = seen_edges.get["e"]
        # the split costs a flag join at load; it pays for itself
        # through smaller per-superstep joins only on large graphs
        if split_static is None:
            split_static = n_edges >= STATIC_SPLIT_MIN_EDGES
        edges_pre = edges_dyn
    else:
        # the caller's edge table may hide an expensive upstream
        # (Arrow-UDF derivation): the share table is cached once and
        # every load pass reads the cache instead of the lineage
        edges_pre = edges_pre.persist()

    # ONE node table (id, indeg, tp) aggregated from the share table:
    # the caller's `nodes` left-joined to the in-degrees when given,
    # else every src and dst. The static split is a predicate on it
    # (indeg == 0), not a re-join against the node universe.
    node_t = _with_tp(_node_table(edges_pre, nodes, None if split_static else seen_dst))
    if split_static:
        node_t = node_t.persist()
        # every edge tagged with its SOURCE's flag: dynamic = in-degree
        # > 0 (rank can change), static = in-degree 0 (rank pinned at
        # its teleport value tp, so it contributes tp * share, folded
        # once into the per-target baseline s0). Sources outside the
        # node universe match no flag and contribute nothing, as in
        # the unsplit superstep join.
        flagged = edges_pre.join(
            node_t.select(
                F.col("id").alias("src"), (F.col("indeg") > 0).alias("_dyn"), "tp"
            ),
            "src",
            "left",
        )
        edges_dyn = pin_table(
            flagged.filter(F.col("_dyn")).select("src", "dst", "share")
            .repartition("src").sortWithinPartitions("src")
        )
        # s0 and the iterated in-degrees in one pass over the same join
        per_dst = flagged.groupBy("dst").agg(
            F.sum(F.when(~F.col("_dyn"), F.col("tp") * F.col("share"))).alias("s0"),
            F.count("*").alias("all_in"),
            F.count(F.when(F.col("_dyn"), 1)).alias("dyn_in"),
        ).observe(
            seen_dst,
            F.sum("all_in").alias("e"), F.sum("dyn_in").alias("de"),
            F.max("dyn_in").alias("mx"),
        )
        dyn = (
            node_t.observe(seen_nodes, F.count(F.lit(1)).alias("n"))
            .filter(F.col("indeg") > 0)
            .join(per_dst, F.col("id") == F.col("dst"), "left")
            .select("id", F.coalesce(F.col("s0"), F.lit(0.0)).alias("s0"), "tp")
        )
    else:
        dyn = node_t.observe(seen_nodes, F.count(F.lit(1)).alias("n")).select(
            "id", F.lit(0.0).alias("s0"), "tp"
        )
    dyn = pin_table(dyn.repartition("id"))
    n_nodes = seen_nodes.get["n"]
    targets = seen_dst.get
    if split_static:
        n_edges, n_dyn_edges = targets["e"], targets["de"]
        # load-only: the share table (cached, or an undecided run's
        # unsplit pin); the node table stays cached for the static rows
        # of the lazy scores (freed by PageRankResult.release)
        release_state(edges_pre)
    else:
        n_dyn_edges = n_edges
    if hot_key_salt == "auto":
        # skew probe: max in-degree of the iterated edges vs MEAN OVER
        # ALL NODES (edges/nodes — per-target averages hide a hub when
        # few targets exist)
        mean_indeg = n_dyn_edges / max(n_nodes, 1)
        hot_key_salt = 16 if (targets["mx"] or 0) > 32 * max(mean_indeg, 1.0) else 0
    t_load = time.time() - t0

    loop = SuperstepLoop(
        spark, checkpoint_dir, every=checkpoint_every, name="pagerank",
        termination=termination, max_steps=max_iter,
    )
    start_iter = 0
    ranks = None
    if resume:
        resumed = loop.resume()
        if resumed is not None:
            start_iter, ranks = resumed
    if ranks is None:
        ranks = dyn.select("id", F.col("tp").alias("rank"))
        ranks = loop.advance(0, ranks, metrics={"init": 1.0 - d}, force_checkpoint=True)

    converged = False
    delta = None
    it = start_iter

    def _superstep(cur: DataFrame) -> DataFrame:
        contribs = edges_dyn.join(cur, edges_dyn.src == cur.id).select(
            edges_dyn.dst.alias("dst"), (F.col("rank") * F.col("share")).alias("c")
        )
        if hot_key_salt > 0:
            partial = contribs.withColumn(
                "_salt", F.pmod(F.hash("dst") + F.spark_partition_id(), F.lit(hot_key_salt))
            ).groupBy("dst", "_salt").agg(F.sum("c").alias("c"))
            sums = partial.groupBy("dst").agg(F.sum("c").alias("s"))
        else:
            sums = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        return (
            dyn.join(sums, dyn.id == sums.dst, "left")
            .select(
                dyn.id.alias("id"),
                (
                    F.col("tp")
                    + F.lit(d) * (F.col("s0") + F.coalesce(F.col("s"), F.lit(0.0)))
                ).alias("rank"),
            )
        )

    t1 = time.time()
    for it in range(start_iter + 1, max_iter + 1):
        new_ranks = _superstep(ranks)
        if tol is not None:
            pre = new_ranks.persist()
            delta = (
                pre.alias("n")
                .join(ranks.alias("o"), "id")
                .agg(F.max(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d"))
                .first()["d"]
            )
            delta = float(delta) if delta is not None else 0.0
            new_ranks = loop.advance(it, pre, metrics={"linf_delta": delta})
            if new_ranks is not pre:
                # advance truncated to a NEW DataFrame; free the
                # delta-probe cache or it leaks one copy per checkpoint
                pre.unpersist()
            if delta < tol:
                converged = True
                ranks = new_ranks
                break
        else:
            new_ranks = loop.advance(it, new_ranks)
        ranks = new_ranks

    scores = ranks
    if split_static:
        # a static node's rank is pinned at its teleport value forever
        scores = ranks.union(
            node_t.filter(F.col("indeg") == 0).select("id", F.col("tp").alias("rank"))
        )
    if checkpoint_dir:
        # final durable state so a subsequent resume() sees completion
        # (distinct path: scores derive from the live iteration state)
        scores = loop.advance(it, scores, metrics={"final": True, "linf_delta": delta},
                              force_checkpoint=True, suffix="_final")
    t_compute = time.time() - t1
    l1_delta = None
    if report_delta and tol is None and it >= 1:
        # one extra UNTIMED superstep (outside compute_s): distance
        # between the final two iterates, for the bench convergence
        # extrapolation (see the report_delta docstring)
        row = (
            _superstep(ranks).alias("n")
            .join(ranks.alias("o"), "id")
            .agg(
                F.max(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("mx"),
                F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("s1"),
            )
            .first()
        )
        delta = float(row["mx"] or 0.0)
        l1_delta = float(row["s1"] or 0.0)
    stats = {
        "nodes": n_nodes,
        "edges": n_edges,
        "dynamic_edges": n_dyn_edges,
        "iterations": it,
        "damping": d,
        "load_s": round(t_load, 4),
        "compute_s": round(t_compute, 4),
        "converged": converged,
        "linf_delta": delta,
        "l1_delta": l1_delta,
        "hot_key_salt": hot_key_salt,
        "personalized": srcs is not None,
        "static_folding": split_static,
    }
    release_state(dyn)
    release_state(edges_dyn)
    # what the lazy scores still read: the final state (the durable
    # final write, else the last superstep's) and, with the split, the
    # node table behind the static rows
    caches = [scores if checkpoint_dir else ranks] + ([node_t] if split_static else [])
    return PageRankResult(scores=scores, iterations=it, converged=converged, delta=delta,
                          stats=stats, _caches=caches)


"""Label propagation — synchronous, deterministic (min-label tie-break).

Re-creates pub:algo/.../impl/LabelPropagation.java + proc
pub:algo/.../LabelPropagationProc.java (SURVEY.md §2.1):

  * seed: label_i = node property ``partition`` if present else id
  * per iteration, per node n, over neighbors r along ``direction``:
      votes[label(r)] += relWeight(n, r) * nodeWeight(r)
    new label = argmax vote
  * termination: fixed ``iterations`` (reference proc default 1); we
    also stop early when no label changed and report did_converge /
    ran_iterations (later-lineage YIELD fields).

DOCUMENTED DEVIATION (SURVEY.md §2.1): the reference's sweep is
asynchronous with hash-map vote order — nondeterministic on ties. Its
tests only use tie-free fixtures. This engine is synchronous with a
deterministic MIN-label tie-break, expressed as

  row_number() OVER (PARTITION BY node ORDER BY vote DESC, label ASC)

which is required for exact label parity at scale (BASELINE.md
"Label-propagation parity"). On tie-free fixtures the two coincide.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.checkpoint import SuperstepLoop, pin_table, release_state


@dataclass
class LabelPropagationResult:
    labels: DataFrame  # (id: long, label: long)
    iterations: int
    converged: bool
    stats: dict = field(default_factory=dict)


def _neighbor_pairs(edges: DataFrame, direction: str) -> DataFrame:
    """Rows (node, nbr, w): node collects a vote from neighbor nbr."""
    w = F.coalesce(F.col("weight"), F.lit(1.0)) if "weight" in edges.columns else F.lit(1.0)
    out = edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"), w.alias("w"))
    inc = edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr"), w.alias("w"))
    d = direction.upper()
    if d == "OUTGOING":
        return out
    if d == "INCOMING":
        return inc
    if d == "BOTH":
        return out.union(inc)
    raise ValueError(f"direction must be OUTGOING|INCOMING|BOTH, got {direction}")


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    direction: str = "OUTGOING",
    max_iter: int = 1,
    seed_col: str = "partition",
    node_weight_col: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    hub_cap: int | str | None = None,
    resume: bool = False,
) -> LabelPropagationResult:
    """Synchronous LPA over an edge table.

    nodes: optional DataFrame(id[, <seed_col>][, <node_weight_col>]).
      Seed labels come from ``seed_col`` when present (null = unseeded
      -> own id), matching the reference's partitionProperty default.
    hub_cap: skew split for power-law graphs (same contract/thresholds
      as ``connected_components(hub_cap=...)``). The per-round vote
      join probes ``pairs`` (hash-partitioned on ``nbr``) with the
      current labels; a power-law hub's entire neighborhood lives in
      ONE partition of that probe, and the straggler task caps the
      high-parallelism level. With a cap, pair rows whose nbr degree
      exceeds it are split out, ROUND-ROBIN partitioned, and joined
      per superstep against a BROADCAST of just the hub labels (a
      hub's (label, nw) is one row) — map-side, no shuffle, no
      straggler — while the cold side keeps the pre-partitioned
      sort-merge join untouched. ``"auto"`` probes the degree
      distribution once and engages only for genuinely hub-skewed
      graphs (top key > 32x mean AND > a quarter of an average
      shuffle partition; <= 1024 qualifying keys). Default off.
    resume: with a ``checkpoint_dir``, continue from the last durable
      superstep in the manifest instead of restarting (same contract
      as ``pagerank(resume=True)``).
    """
    spark = edges.sparkSession
    t0 = time.time()
    raw_pairs = _neighbor_pairs(edges, direction)

    hub_ids: list[int] | None = None
    raw_cached = None
    if hub_cap is not None:
        # one scan of the pair derivation for the degree probe AND the
        # two filtered pins below (otherwise the lineage re-derives
        # 3x: deg agg + hot pin + cold pin)
        raw_cached = raw_pairs.persist()
        raw_pairs = raw_cached
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        deg = raw_pairs.groupBy("nbr").agg(F.count("*").alias("c")).persist()
        if hub_cap == "auto":
            agg = deg.agg(
                F.sum("c").alias("m"), F.count("*").alias("n"), F.max("c").alias("mx")
            ).first()
            m_pairs, n_keys, mx = agg["m"] or 0, agg["n"] or 1, agg["mx"] or 0
            cap = max(32.0 * m_pairs / n_keys, m_pairs / n_part / 4.0)
            hub_cap = cap if mx > cap else None
        if hub_cap is not None:
            # size-gated driver collect: >1024 qualifying keys means
            # uniform density, where the split would broadcast too much
            rows = deg.filter(F.col("c") > hub_cap).select("nbr").limit(1025).collect()
            if 0 < len(rows) <= 1024:
                hub_ids = [r["nbr"] for r in rows]
        deg.unpersist()

    # partitioned+sorted by join key once; iterations reuse the layout
    # pin_table: constant per-superstep plan (see linkgraph/checkpoint.py)
    if hub_ids:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        # hot side: ROUND-ROBIN partitions (no key grouping — the whole
        # point is spreading one nbr key's rows across every task slot)
        pairs_hot = pin_table(
            raw_pairs.filter(F.col("nbr").isin(hub_ids)).repartition(n_part)
        )
        pairs = pin_table(
            raw_pairs.filter(~F.col("nbr").isin(hub_ids))
            .repartition("nbr").sortWithinPartitions("nbr")
        )
    else:
        pairs_hot = None
        pairs = pin_table(raw_pairs.repartition("nbr").sortWithinPartitions("nbr"))
    if raw_cached is not None:
        raw_cached.unpersist()
    if nodes is not None:
        base = nodes
    else:
        # universe from the PINNED pairs table(s) — every edge
        # contributes both endpoints across (node, nbr) in every
        # direction mode, so this never re-scans the raw edge lineage
        base = pairs.select(F.col("node").alias("id")).union(
            pairs.select(F.col("nbr").alias("id"))
        )
        if pairs_hot is not None:
            base = base.union(pairs_hot.select(F.col("node").alias("id"))).union(
                pairs_hot.select(F.col("nbr").alias("id"))
            )
        base = base.distinct()
    seed = (
        F.coalesce(F.col(seed_col).cast("long"), F.col("id"))
        if seed_col in base.columns
        else F.col("id")
    )
    nw = (
        F.coalesce(F.col(node_weight_col).cast("double"), F.lit(1.0))
        if node_weight_col and node_weight_col in base.columns
        else F.lit(1.0)
    )
    init = pin_table(base.select("id", seed.alias("label"), nw.alias("nw")))
    n_nodes = init.count()
    t_load = time.time() - t0

    loop = SuperstepLoop(
        spark, checkpoint_dir, every=checkpoint_every, name="labelprop",
        max_steps=max_iter,
    )
    start_iter = 0
    labels = None
    if resume:
        # continue from the last durable superstep in the manifest —
        # same contract as pagerank(resume=True)
        resumed = loop.resume()
        if resumed is not None:
            start_iter, labels = resumed
    if labels is None:
        labels = loop.advance(
            0, init.select("id", "label"), force_checkpoint=bool(checkpoint_dir)
        )

    converged = False
    it = start_iter
    t1 = time.time()
    for it in range(start_iter + 1, max_iter + 1):
        nbr_state = labels.join(init.select("id", "nw"), "id").select(
            F.col("id").alias("nbr"), F.col("label").alias("nbr_label"), "nw"
        )
        voted = pairs.join(nbr_state, "nbr").select("node", "nbr_label", "w", "nw")
        if pairs_hot is not None:
            # hub (label, nw) rows are <= |hub_ids| — broadcast them and
            # close the hub neighborhoods map-side over the round-robin
            # partitions (no shuffle, no straggler)
            hub_state = nbr_state.filter(F.col("nbr").isin(hub_ids))
            voted = voted.union(
                pairs_hot.join(F.broadcast(hub_state), "nbr")
                .select("node", "nbr_label", "w", "nw")
            )
        votes = (
            voted.groupBy("node", F.col("nbr_label").alias("label"))
            .agg(F.sum(F.col("w") * F.col("nw")).alias("v"))
        )
        # argmax with (desc v, asc label) tie-break as ONE aggregate:
        # max_by over struct(v, -label) partial-aggregates map-side,
        # where the former row_number window re-sorted every group
        best = votes.groupBy("node").agg(
            F.max_by("label", F.struct(F.col("v"), (-F.col("label")).alias("nl")))
            .alias("new_label")
        ).select(F.col("node").alias("id"), "new_label")
        new_labels = (
            labels.join(best, "id", "left")
            .select("id", F.coalesce(F.col("new_label"), F.col("label")).alias("label"))
        )
        pre = new_labels.persist()
        changed = (
            pre.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        new_labels = loop.advance(it, pre, metrics={"changed": changed})
        if new_labels is not pre:
            pre.unpersist()  # free the changed-probe cache (leak per checkpoint)
        labels = new_labels
        if changed == 0:
            converged = True
            break

    stats = {
        "nodes": n_nodes,
        "iterations": it,
        "ran_iterations": it,
        "did_converge": converged,
        "direction": direction.upper(),
        "hub_split": len(hub_ids) if hub_ids else 0,
        "load_s": round(t_load, 4),
        "compute_s": round(time.time() - t1, 4),
    }
    release_state(pairs)
    if pairs_hot is not None:
        release_state(pairs_hot)
    release_state(init)
    return LabelPropagationResult(labels=labels, iterations=it, converged=converged, stats=stats)


def seeded_label_spread(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
) -> DataFrame:
    """Semi-supervised node classification by label spreading — the
    Zhu-Ghahramani-Lafferty harmonic-function recipe (ICML'03, public
    result): seed nodes are CLAMPED to their label with mass 1;
    every other node iteratively takes the mean of its neighbors' label
    masses; after ``iterations`` rounds each touched node is assigned
    its argmax label (min label on ties). The engine's community LPA
    (`label_propagation`) hard-assigns by vote; this is its soft,
    seeded classification companion — the standard "propagate the few
    human labels over the co-occurrence graph" pipeline step.

    seeds: DataFrame (id, label) — label is a LONG class id; one row
    per seed (duplicate seed ids raise).

    Cross-engine exactness: masses live in the integer micro-domain;
    the neighborhood mean is ONE half-up division
    ``(2·Σp + d) DIV (2d)`` per (node, label); ties argmax by
    (p DESC, label ASC). The DuckDB twin (`seeded_label_spread_sql`)
    is hash-exact.

    Returns (id, label, score): the argmax label and its mass/1e6
    (seeds report their clamped label at 1.0).

    Scale notes (100TB): state is (node, label, p) over TOUCHED nodes
    x observed labels only — mass that rounds to 0 is dropped, so the
    state grows with the label frontier, not |V| x |labels|. Per
    round: one state-vs-pinned-sym join + one groupBy(node, label)
    sum + the seed re-clamp anti-join (seed rows are a broadcast).
    Rounds bound the propagation radius: at 5 rounds only nodes
    within 5 hops of a seed are classified — the truncation IS the
    semantics, as in the PPR operators. SuperstepLoop resume with
    graph + seed fingerprints."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: got {iterations}")
    from linkgraph.kcore import _check_resume_fp, _graph_fp, _sym_simple

    spark = edges.sparkSession
    sym = pin_table(_sym_simple(edges))
    deg = pin_table(
        sym.groupBy("a").agg(F.count("*").cast("long").alias("d"))
        .select(F.col("a").alias("node"), "d")
    )
    sd = pin_table(
        seeds.select(F.col("id").cast("long").alias("node"),
                     F.col("label").cast("long").alias("label"))
    )
    n_seeds = sd.count()
    if n_seeds == 0:
        raise ValueError("seeds must be non-empty")
    if sd.select("node").distinct().count() != n_seeds:
        raise ValueError("duplicate seed ids: one label per seed node")
    clamp = sd.select("node", "label", F.lit(1_000_000).cast("long").alias("p"))
    fp = None
    seed_fp = None
    if checkpoint_dir:
        fp = _graph_fp(sym)
        seed_fp = int(
            sd.agg(F.expr("bit_xor(xxhash64(node, label))").alias("f"))
            .first()["f"] or 0
        )
    loop = SuperstepLoop(
        spark, checkpoint_dir, every=checkpoint_every,
        name="labelspread", max_steps=iterations,
        context={"graph_fp": fp, "seed_fp": seed_fp},
    )
    state = clamp
    start = 0
    if resume and checkpoint_dir:
        resumed = loop.resume()
        if resumed is not None:
            _check_resume_fp(
                "seeded_label_spread", loop.last_context.get("graph_fp"), fp
            )
            rec = loop.last_context.get("seed_fp")
            if rec is not None and int(rec) != seed_fp:
                raise ValueError(
                    "seeded_label_spread resume mismatch: the seed set "
                    f"differs from the checkpointed run ({rec} != {seed_fp})."
                )
            start, state = resumed
            state = state.select("node", "label", "p")
    seed_nodes = sd.select("node")
    for it in range(start + 1, iterations + 1):
        summed = (
            state.withColumnRenamed("node", "b")
            .join(sym, "b")
            .select(F.col("a").alias("node"), "label", "p")
            .groupBy("node", "label")
            .agg(F.sum("p").alias("sp"))
        )
        spread = (
            summed.join(deg, "node")
            .select(
                "node", "label",
                F.expr("(2 * sp + d) DIV (2 * d)").cast("long").alias("p"),
            )
            .filter(F.col("p") > 0)
            .join(F.broadcast(seed_nodes), "node", "left_anti")
        )
        state = loop.advance(it, spread.unionByName(clamp),
                             metrics={"iteration": it})
    w = F.expr(
        "max_by(struct(p, label), struct(p, -label))"
    )
    out = (
        state.groupBy("node")
        .agg(w.alias("m"))
        .select(
            F.col("node").alias("id"),
            F.col("m.label").alias("label"),
            F.round(F.col("m.p") / 1_000_000.0, 6).alias("score"),
        )
    )
    return out


def seeded_label_spread_sql(
    edges_sql: str, seeds_sql: str, iterations: int = 5
) -> str:
    """DuckDB twin of `seeded_label_spread`: identical clamped
    half-up mean rounds unrolled, argmax by (p DESC, label ASC)."""
    parts = [
        f"WITH e AS ({edges_sql})",
        """sym AS MATERIALIZED (SELECT DISTINCT a, b FROM (
  SELECT src AS a, dst AS b FROM e WHERE src <> dst
  UNION ALL SELECT dst, src FROM e WHERE src <> dst))""",
        "deg AS MATERIALIZED (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d"
        " FROM sym GROUP BY a)",
        f"""sd AS MATERIALIZED (SELECT CAST(id AS BIGINT) AS node,
  CAST(label AS BIGINT) AS label FROM ({seeds_sql}))""",
        "s0 AS MATERIALIZED (SELECT node, label,"
        " CAST(1000000 AS BIGINT) AS p FROM sd)",
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f"""s{t} AS MATERIALIZED (
  SELECT node, label, p FROM (
    SELECT m.node, m.label,
           CAST((2 * m.sp + d.d) // (2 * d.d) AS BIGINT) AS p
    FROM (SELECT sym.a AS node, p.label, SUM(p.p) AS sp
          FROM s{t - 1} p JOIN sym ON sym.b = p.node
          GROUP BY sym.a, p.label) m
    JOIN deg d ON d.node = m.node)
  WHERE p > 0 AND node NOT IN (SELECT node FROM sd)
  UNION ALL
  SELECT node, label, CAST(1000000 AS BIGINT) AS p FROM sd)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT node AS id, label, ROUND(CAST(p AS DOUBLE) / 1000000.0, 6) AS score
FROM (SELECT node, label, p,
      ROW_NUMBER() OVER (PARTITION BY node ORDER BY p DESC, label ASC) AS rn
      FROM s{iterations})
WHERE rn = 1"""
    )

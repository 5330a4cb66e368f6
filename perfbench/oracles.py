"""Independent reference results for the benchmark's procedure calls.

Each oracle recomputes a procedure's documented semantics in numpy,
pandas or DuckDB from the same input edges the engine received, so a
wrong engine result shows as a non-empty diff. Every check returns
``None`` when the written output matches, else a one-line diff.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pandas as pd

PAGERANK_ATOL = 1e-6


def _compact(src: np.ndarray, dst: np.ndarray, universe: np.ndarray | None = None):
    parts = [src, dst] if universe is None else [src, dst, universe]
    ids = np.unique(np.concatenate(parts))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank(src, dst, iters: int, damping: float = 0.85, universe=None):
    """Synchronous non-normalized PageRank with a fixed superstep count:
    p0 = 1-d, p' = (1-d) + d * sum_{j->i} p_j / outdeg(j). Returns
    (ids, ranks) sorted by id."""
    ids, s, t = _compact(src, dst, universe)
    n = len(ids)
    share = 1.0 / np.bincount(s, minlength=n)[s]
    r = np.full(n, 1.0 - damping)
    for _ in range(iters):
        r = (1.0 - damping) + damping * np.bincount(t, weights=r[s] * share, minlength=n)
    return ids, r


def components(src, dst):
    """Weakly connected components: (ids, min id of each node's
    component), by min-label propagation with pointer jumping."""
    ids, s, t = _compact(src, dst)
    lab = np.arange(len(ids))
    while True:
        m = np.minimum(lab[s], lab[t])
        new = lab.copy()
        np.minimum.at(new, s, m)
        np.minimum.at(new, t, m)
        new = new[new]
        if np.array_equal(new, lab):
            return ids, ids[lab]
        lab = new


def label_propagation(src, dst, rounds: int):
    """Synchronous OUTGOING label propagation seeded with own ids: each
    node takes the label with the most votes among its out-neighbours,
    ties to the smallest label; a node without votes keeps its label."""
    ids, s, t = _compact(src, dst)
    lab = ids.copy()
    for _ in range(rounds):
        votes = (
            pd.DataFrame({"node": s, "label": lab[t]})
            .groupby(["node", "label"], sort=False).size().rename("v").reset_index()
            .sort_values(["node", "v", "label"], ascending=[True, False, True])
            .drop_duplicates("node")
        )
        new = lab.copy()
        new[votes["node"].to_numpy()] = votes["label"].to_numpy()
        if np.array_equal(new, lab):
            break
        lab = new
    return ids, lab


_TRIANGLES_SQL = """
WITH u AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e WHERE src <> dst),
deg AS (
  SELECT id, count(*) AS d FROM (SELECT a AS id FROM u UNION ALL SELECT b FROM u) GROUP BY id),
o AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN u.a ELSE u.b END AS lo,
         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN u.b ELSE u.a END AS hi
  FROM u JOIN deg da ON da.id = u.a JOIN deg db ON db.id = u.b),
t AS (
  SELECT o1.lo AS x, o1.hi AS y, o2.hi AS z
  FROM o o1 JOIN o o2 ON o1.lo = o2.lo AND o1.hi <> o2.hi
  JOIN o o3 ON o3.lo = o1.hi AND o3.hi = o2.hi)
SELECT id, count(*) AS triangles
FROM (SELECT x AS id FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
GROUP BY id ORDER BY id
"""


def triangles(src, dst) -> pd.Series:
    """Per-node triangle counts of the undirected simple graph, indexed
    by node id (nodes in no triangle are absent)."""
    con = duckdb.connect()
    try:
        con.register("e", pd.DataFrame({"src": src, "dst": dst}))
        out = con.execute(_TRIANGLES_SQL).df()
    finally:
        con.close()
    return out.set_index("id")["triangles"].astype(np.int64)


_IMPORT = {
    "python": re.compile(r"^import\s+([A-Za-z0-9_.]+)\s*$", re.M),
    "java": re.compile(r"^import\s+([A-Za-z0-9_.]+);\s*$", re.M),
}


def file_edges(catalog: pd.DataFrame) -> tuple[np.ndarray, pd.DataFrame]:
    """Import graph of a source catalog (repo, path, lang, content):
    returns (keys, edges) with keys = sorted "repo/path" file keys and
    edges = distinct (src_key, dst_key) for each import line that names
    a module of the catalog."""
    keys = (catalog["repo"] + "/" + catalog["path"]).to_numpy()
    module = catalog["repo"] + "." + catalog["path"].str.replace(
        r"^src/", "", regex=True).str.replace(r"\.(py|java)$", "", regex=True).str.replace("/", ".")
    by_module = dict(zip(module, keys))
    pairs = {
        (k, by_module[m])
        for k, lang, content in zip(keys, catalog["lang"], catalog["content"])
        for m in _IMPORT[lang].findall(content)
        if m in by_module
    }
    edges = pd.DataFrame(sorted(pairs), columns=["src_key", "dst_key"])
    return np.sort(keys), edges


def check_ranks(ids, ranks, got: pd.DataFrame) -> str | None:
    got = got.sort_values("id")
    if not np.array_equal(got["id"].to_numpy(), ids):
        return f"node set differs: {len(got)} rows vs {len(ids)} oracle nodes"
    err = np.abs(got["rank"].to_numpy() - ranks)
    if err.max(initial=0.0) > PAGERANK_ATOL:
        i = int(err.argmax())
        return (f"{int((err > PAGERANK_ATOL).sum())} ranks off by > {PAGERANK_ATOL}; "
                f"worst id {ids[i]}: {got['rank'].iloc[i]!r} vs {ranks[i]!r}")
    return None


def check_partition(ids, rep, got: pd.DataFrame, col: str) -> str | None:
    """Same node set and the same partition after relabeling each
    engine group to its smallest member id."""
    got = got.sort_values("id")
    if not np.array_equal(got["id"].to_numpy(), ids):
        return f"node set differs: {len(got)} rows vs {len(ids)} oracle nodes"
    canon = got.groupby(col)["id"].transform("min").to_numpy()
    bad = int((canon != rep).sum())
    return None if bad == 0 else f"{bad} of {len(ids)} nodes in a different component"


def check_labels(ids, labels, got: pd.DataFrame) -> str | None:
    got = got.sort_values("id")
    if not np.array_equal(got["id"].to_numpy(), ids):
        return f"node set differs: {len(got)} rows vs {len(ids)} oracle nodes"
    bad = int((got["label"].to_numpy() != labels).sum())
    return None if bad == 0 else f"{bad} of {len(ids)} labels differ"


def check_triangles(expected: pd.Series, got: pd.DataFrame, total: int) -> str | None:
    per_node = got.set_index("id")["triangles"]
    per_node = per_node[per_node > 0].sort_index()
    want = int(expected.sum()) // 3
    if total != want:
        return f"triangle_count {total} vs oracle {want}"
    if not per_node.index.equals(expected.index) or not np.array_equal(
        per_node.to_numpy(), expected.to_numpy()
    ):
        diff = per_node.reindex(expected.index, fill_value=0) != expected
        return f"{int(diff.sum())} per-node triangle counts differ"
    return None

"""Independent checks of every operation's output.

Each reference here recomputes the answer on the driver from the
workload's input without the operator under test: the generator's block
structure for CC, a vectorized numpy power iteration for PageRank, the
package's iterative Tarjan for SCC, DuckDB for triangles, the
stdlib-HTMLParser link extractor for extraction, and a pure-Python
MinHash/LSH with the package's hash recipe for near-duplicates. The MinHash reference fixes today's signatures: a later
change to the Spark side must keep them bit-identical to pass.

Every ``check_*`` returns None when the output is right and a one-line
reason otherwise.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# comparisons
# ---------------------------------------------------------------------------


def _mismatch(name: str, got: dict, want: dict) -> str | None:
    if got.keys() != want.keys():
        return f"{name}: vertex sets differ ({len(got)} vs {len(want)} vertices)"
    bad = sum(1 for v, x in want.items() if got[v] != x)
    return f"{name}: {bad} of {len(want)} labels differ" if bad else None


def as_dict(df: pd.DataFrame, key: str, value: str) -> dict:
    return dict(zip(df[key].tolist(), df[value].tolist()))


# ---------------------------------------------------------------------------
# extraction and connected components
# ---------------------------------------------------------------------------

_URL_BLOCK = re.compile(r"^https://w(\d+)\.example\.org/p/(\d+)$")


def reference_edges(pages: pd.DataFrame, sample: pd.DataFrame) -> np.ndarray:
    """(src id, dst id) links of the ``sample`` rows of ``pages`` (url, id,
    html), parsed per row by the stdlib reference extractor. Every
    generated link targets a generated page, so an href maps to an id
    through the url column."""
    from parallel_connected_components_spark.functions.extract import (
        reference_extract_links,
    )

    id_of = dict(zip(pages["url"], pages["id"]))
    out = [
        (src, id_of[href])
        for src, html in zip(sample["id"], sample["html"])
        for href in reference_extract_links(bytes(html))
    ]
    return np.array(out, dtype=np.int64).reshape(-1, 2)


def check_edges(got: np.ndarray, want: tuple[np.ndarray, np.ndarray]) -> str | None:
    """``want`` = (sampled source ids, their reference links): the links
    ``got`` has from those sources must be exactly the reference's."""
    ids, ref = want
    mine = got[np.isin(got[:, 0], ids)]
    if mine.shape != ref.shape:
        return f"extract: {len(mine)} links from sampled pages, reference parser finds {len(ref)}"
    if not np.array_equal(_sorted_rows(mine), _sorted_rows(ref)):
        return "extract: link multiset differs from the reference parser"
    return None


def _sorted_rows(a: np.ndarray) -> np.ndarray:
    return a[np.lexsort((a[:, 1], a[:, 0]))]


def block_labels(pages: pd.DataFrame) -> dict:
    """id -> min id of its generator block: the component by construction
    (``gen_pages`` keeps every link inside the block of its source)."""
    block = pages["url"].str.extract(_URL_BLOCK)[0].astype(np.int64)
    lab = pages.groupby(block)["id"].transform("min")
    return dict(zip(pages["id"].tolist(), lab.tolist()))


def check_labels(name: str, got: pd.DataFrame, want: dict) -> str | None:
    return _mismatch(name, as_dict(got, "vertex", "label"), want)


def grid_labels(width: int, height: int, num_grids: int) -> dict:
    from parallel_connected_components_spark.sources.grids import (
        expected_grid_component_of,
    )

    return {
        v: expected_grid_component_of(v, width, height)
        for v in range(width * height * num_grids)
    }


# ---------------------------------------------------------------------------
# PageRank, SCC, triangles
# ---------------------------------------------------------------------------


def pagerank_numpy(edges: np.ndarray, damping: float = 0.85, tol: float = 1e-6,
                   max_iterations: int = 100) -> dict:
    """The package's PageRank recipe (dedup edges, vertices = endpoints,
    dangling mass spread uniformly, stop when the L1 step < tol), with
    bincount in place of the per-edge loop of ``pagerank_numpy_oracle``."""
    e = np.unique(edges, axis=0)
    verts, inv = np.unique(e, return_inverse=True)
    inv = inv.reshape(-1, 2)
    src, dst = inv[:, 0], inv[:, 1]
    n = len(verts)
    out = np.bincount(src, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 / n)
    for _ in range(max_iterations):
        w = np.where(out > 0, r / np.maximum(out, 1), 0.0)
        contrib = np.bincount(dst, weights=w[src], minlength=n)
        new = (1 - damping) / n + damping * (contrib + r[out == 0].sum() / n)
        done = np.abs(new - r).sum() < tol
        r = new
        if done:
            break
    return dict(zip(verts.tolist(), r.tolist()))


def check_pagerank(got: pd.DataFrame, want: dict) -> str | None:
    g = as_dict(got, "vertex", "rank")
    if g.keys() != want.keys():
        return f"pagerank: vertex sets differ ({len(g)} vs {len(want)})"
    keys = list(want)
    a = np.array([g[k] for k in keys])
    b = np.array([want[k] for k in keys])
    if not np.allclose(a, b, rtol=1e-6, atol=0.0):
        return f"pagerank: max |diff| {np.abs(a - b).max():.3g} vs the numpy power iteration"
    return None


def scc_reference(edges: np.ndarray) -> dict:
    from parallel_connected_components_spark.operators import scc_python_oracle

    return scc_python_oracle(edges.tolist())


def triangles_duckdb(canon: np.ndarray) -> int:
    """Triangle count of an undirected graph given once per edge. Edges
    are oriented from lower to higher (degree, id), so each triangle is
    one wedge a->b->c closed by a->c and no vertex fans out more than
    O(sqrt E) wedges, hubs included."""
    import duckdb

    und = pd.DataFrame({"u": canon[:, 0], "v": canon[:, 1]})  # noqa: F841 — read by duckdb
    con = duckdb.connect()
    try:
        con.execute("CREATE TEMP TABLE s AS SELECT u, v FROM und UNION ALL SELECT v, u FROM und")
        con.execute("CREATE TEMP TABLE d AS SELECT u AS x, count(*) AS deg FROM s GROUP BY u")
        con.execute(
            "CREATE TEMP TABLE e AS SELECT s.u AS a, s.v AS b FROM s "
            "JOIN d du ON du.x = s.u JOIN d dv ON dv.x = s.v "
            "WHERE du.deg < dv.deg OR (du.deg = dv.deg AND s.u < s.v)"
        )
        return con.execute(
            "SELECT count(*) FROM e e1 JOIN e e2 ON e1.b = e2.a "
            "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"
        ).fetchone()[0]
    finally:
        con.close()


# ---------------------------------------------------------------------------
# MinHash near-duplicates and dup clusters
# ---------------------------------------------------------------------------

_M31 = (1 << 31) - 1


def _shingle_values(text: str, n: int = 3) -> np.ndarray:
    words = re.sub(r"\s+", " ", text.lower()).strip(" ").split()
    k = len(words) - (n - 1)
    grams = [" ".join(words[i:i + n]) for i in range(k)] if k >= 1 else [" ".join(words)]
    return np.array(
        [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % _M31 for g in grams],
        dtype=np.int64,
    )


def minhash_signatures_py(docs: pd.DataFrame, num_perm: int = 32, seed: int = 42) -> dict:
    from parallel_connected_components_spark.functions.hashing import minhash_params

    ab = np.array(minhash_params(num_perm, seed), dtype=np.int64)
    a, b = ab[:, :1], ab[:, 1:]
    return {
        int(d): tuple(((a * _shingle_values(t)[None, :] + b) % _M31).min(axis=1).tolist())
        for d, t in zip(docs["doc_id"], docs["text"])
    }


def minhash_pairs_py(sigs: dict, num_bands: int, threshold: float) -> dict:
    """(a, b) -> estimated Jaccard for every pair sharing an LSH band whose
    signatures agree on at least ``threshold`` of their components."""
    num_perm = len(next(iter(sigs.values())))
    rows = max(1, num_perm // num_bands)
    buckets: dict = {}
    for d, s in sigs.items():
        for band in range(num_bands):
            buckets.setdefault((band, s[band * rows:(band + 1) * rows]), []).append(d)
    out = {}
    for members in buckets.values():
        members.sort()
        for i, x in enumerate(members):
            for y in members[i + 1:]:
                if (x, y) not in out:
                    est = sum(p == q for p, q in zip(sigs[x], sigs[y])) / num_perm
                    out[(x, y)] = est
    return {k: v for k, v in out.items() if v >= threshold}


def check_pairs(got: pd.DataFrame, want: dict) -> str | None:
    g = {(int(a), int(b)): float(e) for a, b, e in zip(got["a"], got["b"], got["est_jaccard"])}
    if len(g) != len(got):
        return "minhash: duplicate pairs in the output"
    if g != want:
        return f"minhash: {len(g.keys() ^ want.keys())} pairs differ from the reference"
    return None


def clusters_py(doc_ids, pairs) -> dict:
    """doc id -> min doc id of its near-duplicate cluster (union-find)."""
    parent = {int(d): int(d) for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}


def check_clusters(got: pd.DataFrame, want: dict) -> str | None:
    bad = _mismatch("dup_clusters", as_dict(got, "doc_id", "cluster_id"), want)
    if bad:
        return bad
    if not (got["is_canonical"] == (got["doc_id"] == got["cluster_id"])).all():
        return "dup_clusters: is_canonical is not doc_id == cluster_id"
    return None

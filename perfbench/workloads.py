"""The workloads: their sizes, one timed pass each, and the reference
answers their outputs are checked against.

A pass calls the package's public operators in a fixed order through
``Pass.op``, which times each call (and traces it when a tracer is
given). An operator that raises is recorded as failed and the pass goes
on; an operator whose input came from a failed one fails in turn.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np

from . import oracles


class Pass:
    """One pass's per-operation wall times, CPU seconds, failures and
    results. ``cpu_clock`` returns the engine's CPU seconds so far."""

    def __init__(self, tracer=None, cpu_clock=None):
        self.tracer = tracer
        self.cpu_clock = cpu_clock
        self.times: dict[str, float] = {}
        self.cpu: dict[str, float] = {}
        self.errors: dict[str, str] = {}
        self.results: dict[str, object] = {}

    def op(self, name: str, fn):
        span = self.tracer.span(name) if self.tracer is not None else nullcontext()
        c0 = self.cpu_clock() if self.cpu_clock is not None else 0.0
        t0 = time.perf_counter()
        try:
            with span:
                out = fn()
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.errors[name] = f"{type(e).__name__}: {e}"
            out = None
        self.times[name] = time.perf_counter() - t0
        if self.cpu_clock is not None:
            self.cpu[name] = self.cpu_clock() - c0
        self.results[name] = out
        return out


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]  # one pass, in order
    sizes: dict


_WEB = {"components": 16, "links_per_page": 6, "hub": False}
_GRID = {"num_grids": 2}

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "web_crawl",
            ("extract", "cc", "pagerank", "scc", "triangles", "minhash", "dup_clusters"),
            {**_WEB, "pages": 4_000, "docs": 800},
        ),
        Workload(
            "road_grid", ("cc", "cc_resume"),
            {**_GRID, "grid_width": 10, "grid_height": 10, "stop_at": 10},
        ),
    )
}

LOOP_OPS = ("cc", "cc_resume", "pagerank")  # FixpointRunner loops
PAGERANK_TOL = 1e-6


# ---------------------------------------------------------------------------
# one pass
# ---------------------------------------------------------------------------


def free_all(spark) -> None:
    """Drop every cached table and persisted RDD, results included."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def run_pass(spark, wl: Workload, inputs: dict, p: Pass, work: str) -> dict:
    """Run ``wl``'s operators once over ``inputs``; then (untimed) pull
    every result the checks need to the driver, with each loop's
    per-iteration metrics under ``"loops"``. The driver drops its handles
    on the pass's DataFrames."""
    if "grid" in inputs:
        out = _road_pass(spark, wl.sizes, inputs, p, work)
    else:
        out = _web_pass(spark, wl, inputs, p)
    out["loops"] = {
        op: p.results[op][1].metrics for op in LOOP_OPS if p.results.get(op) is not None
    }
    p.results.clear()
    return out


def _pdf(df, *cols):
    return df.select(*cols).toPandas()


def _web_pass(spark, wl: Workload, inputs: dict, p: Pass) -> dict:
    from parallel_connected_components_spark.operators import (
        canonicalize,
        cc_label_propagation,
        edges_from_pages,
        pagerank,
        scc,
        symmetrize,
        triangle_count,
    )
    from parallel_connected_components_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_duplicates,
    )

    def extract():
        raw = edges_from_pages(inputs["pages"]).localCheckpoint(eager=True)
        canon = canonicalize(raw).localCheckpoint(eager=True)
        return raw, canon, symmetrize(canon, dedup=False).localCheckpoint(eager=True)

    raw, canon, sym = p.op("extract", extract) or (None, None, None)
    ops = {
        "cc": lambda: cc_label_propagation(spark, sym),
        "pagerank": lambda: pagerank(spark, raw, tol=PAGERANK_TOL, max_iterations=100),
        "scc": lambda: scc(spark, raw),
        "triangles": lambda: triangle_count(spark, canon, orient_by_degree=True),
        "minhash": lambda: minhash_near_duplicates(
            inputs["docs"], num_perm=32, num_bands=8, threshold=0.5
        ).localCheckpoint(eager=True),
        "dup_clusters": lambda: dedup_clusters(
            spark, inputs["docs"], num_perm=32, num_bands=8, threshold=0.7
        ).localCheckpoint(eager=True),
    }
    for name in wl.ops[1:]:
        p.op(name, ops[name])

    out: dict = {}
    if raw is not None:
        out["extract"] = _pdf(raw, "src", "dst").to_numpy()
        out["canonical_edges"] = canon.count()
        out["sym_edges"] = sym.count()
        out["max_degree"] = sym.groupBy("src").count().agg({"count": "max"}).first()[0]
    r = p.results
    for name in ("cc", "scc"):
        if r.get(name) is not None:
            out[name] = _pdf(r[name][0], "vertex", "label")
    if r.get("scc") is not None:
        out["scc_rounds"] = r["scc"][1]["rounds"]
    if r.get("pagerank") is not None:
        out["pagerank"] = _pdf(r["pagerank"][0], "vertex", "rank")
    if r.get("triangles") is not None:
        out["triangles"] = r["triangles"]
    if r.get("minhash") is not None:
        out["minhash"] = _pdf(r["minhash"], "a", "b", "est_jaccard")
    if r.get("dup_clusters") is not None:
        out["dup_clusters"] = _pdf(r["dup_clusters"], "doc_id", "cluster_id", "is_canonical")
    return out


def _road_pass(spark, sizes: dict, inputs: dict, p: Pass, work: str) -> dict:
    from parallel_connected_components_spark.operators import cc_label_propagation, symmetrize

    ckpt = os.path.join(work, "checkpoints", f"pass-{time.time_ns()}")
    holder = {}

    def interrupted():
        holder["sym"] = symmetrize(inputs["grid"], dedup=False).localCheckpoint(eager=True)
        return cc_label_propagation(
            spark, holder["sym"], checkpoint_dir=ckpt,
            max_iterations=sizes["stop_at"], raise_on_cap=False,
        )

    p.op("cc", interrupted)
    p.op("cc_resume", lambda: cc_label_propagation(
        spark, holder["sym"], checkpoint_dir=ckpt, resume=True))

    out: dict = {}
    if "sym" in holder:
        out["sym_edges"] = holder["sym"].count()
        out["canonical_edges"] = out["sym_edges"] // 2
        out["max_degree"] = holder["sym"].groupBy("src").count().agg({"count": "max"}).first()[0]
    if p.results.get("cc_resume") is not None:
        out["cc_resume"] = _pdf(p.results["cc_resume"][0], "vertex", "label")
        snaps = os.path.join(ckpt, "cc_lp")
        out["snapshot_bytes"] = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(snaps) for f in fs
        )
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# reference answers and checks
# ---------------------------------------------------------------------------


def reference(spark, wl: Workload, inputs: dict, got: dict) -> dict:
    """Every op's expected output. CC and extraction are checked against
    the input itself (the generator's blocks; the reference parser on a
    fixed quarter of the pages); the graph operators against driver-side
    recomputations over the edges the first pass extracted."""
    from pyspark.sql import functions as F

    s = wl.sizes
    if "grid" in inputs:
        return {"cc_resume": oracles.grid_labels(s["grid_width"], s["grid_height"], s["num_grids"])}
    pages = inputs["pages"].select("url", F.xxhash64("url").alias("id"), "html").toPandas()
    sample = pages[pages["id"] % 4 == 0]
    docs = inputs["docs"].toPandas()
    sigs = oracles.minhash_signatures_py(docs)
    ref = {
        "extract": (sample["id"].to_numpy(), oracles.reference_edges(pages, sample)),
        "cc": oracles.block_labels(pages),
        "minhash": oracles.minhash_pairs_py(sigs, 8, 0.5),
        "dup_clusters": oracles.clusters_py(docs["doc_id"], oracles.minhash_pairs_py(sigs, 8, 0.7)),
    }
    edges = got.get("extract")
    if edges is None:
        return ref  # nothing downstream ran either
    loops = edges[:, 0] == edges[:, 1]
    canon = np.unique(np.sort(edges[~loops], axis=1), axis=0)
    ref["pagerank"] = oracles.pagerank_numpy(edges, tol=PAGERANK_TOL)
    ref["scc"] = oracles.scc_reference(edges)
    ref["triangles"] = oracles.triangles_duckdb(canon)
    return ref


def check(ops, ref: dict, got: dict) -> dict[str, str]:
    """op -> reason, for every op in ``ops`` whose output is missing or wrong."""
    checks = {
        "extract": oracles.check_edges,
        "cc": lambda g, w: oracles.check_labels("cc", g, w),
        "cc_resume": lambda g, w: oracles.check_labels("cc_resume", g, w),
        "pagerank": oracles.check_pagerank,
        "scc": lambda g, w: oracles.check_labels("scc", g, w),
        "triangles": lambda g, w: None if g == w else f"triangles: {g} vs DuckDB {w}",
        "minhash": oracles.check_pairs,
        "dup_clusters": oracles.check_clusters,
    }
    bad = {}
    for op in ops:
        if op not in ref:
            # road_grid's interrupted call has no final labels to check;
            # graph ops lack a reference only when extraction produced nothing
            if op != "cc" and op not in got:
                bad[op] = f"{op}: no output"
        elif op not in got:
            bad[op] = f"{op}: no output"
        elif reason := checks[op](got[op], ref[op]):
            bad[op] = reason
    return bad


def failed_ops(ref: dict, passes: list[Pass], outputs: list[dict]) -> list[str]:
    """One reason per (pass, op) that raised or failed its check; every op
    a pass attempted has an entry in its ``times``."""
    reasons = []
    for p, got in zip(passes, outputs):
        reasons.extend({**check(p.times, ref, got), **p.errors}.values())
    return reasons

"""Self-tests of the benchmark's own code, at tiny sizes.

    python3 -m pytest perfbench -q

The two end-to-end tests start Spark (about a minute each on 4 cores);
the rest are driver-side only.
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import os
import re
import tempfile

import numpy as np
import pandas as pd
import pytest

from perfbench import oracles, run, workloads
from perfbench.trace import idle_seconds, weighted_skew

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


@pytest.fixture()
def restore_env():
    """A run points TMPDIR and ``tempfile.tempdir`` into its own directory,
    which it deletes at the end; put both back for later tests."""
    saved, saved_tempdir = dict(os.environ), tempfile.tempdir
    yield
    os.environ.clear()
    os.environ.update(saved)
    tempfile.tempdir = saved_tempdir


@pytest.fixture()
def tiny(monkeypatch):
    """Shrink every workload so a full run takes well under a minute."""
    small = {
        "web_crawl": {"pages": 400, "components": 4, "docs": 60},
        "road_grid": {"grid_width": 5, "grid_height": 5, "stop_at": 4},
    }
    patched = {
        name: dataclasses.replace(wl, sizes={**wl.sizes, **small[name]})
        for name, wl in workloads.WORKLOADS.items()
    }
    monkeypatch.setattr(workloads, "WORKLOADS", patched)


def _spec() -> dict:
    with open(BENCHMARK, encoding="utf-8") as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# metric names
# ---------------------------------------------------------------------------


def test_metric_names_are_well_formed():
    spec = _spec()
    names = (
        list(run.END_TO_END)
        + list(run.per_layer_units())
        + [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        + [w["name"] for w in spec["workloads"]]
    )
    bad = [n for n in names if not NAME.match(n)]
    assert not bad


def test_benchmark_json_lists_what_the_run_emits():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


# ---------------------------------------------------------------------------
# checks count failures
# ---------------------------------------------------------------------------


def _ran(*ops):
    p = workloads.Pass()
    for op in ops:
        p.op(op, lambda: None)
    return p


def test_perturbed_labels_count_as_a_failed_op():
    ref = {"cc": {0: 0, 1: 0, 2: 2, 3: 2}}
    right = pd.DataFrame({"vertex": [0, 1, 2, 3], "label": [0, 0, 2, 2]})
    wrong = right.assign(label=[0, 0, 2, 0])
    assert workloads.failed_ops(ref, [_ran("cc")], [{"cc": right}]) == []
    failures = workloads.failed_ops(
        ref, [_ran("cc"), _ran("cc"), _ran("cc")],
        [{"cc": right}, {"cc": wrong}, {"cc": wrong}],
    )
    assert len(failures) == 2 and all("1 of 4 labels differ" in f for f in failures)


def test_raised_and_missing_ops_count_once_each():
    p = workloads.Pass()
    assert p.op("cc_resume", lambda: 1 / 0) is None
    failures = workloads.failed_ops({"cc_resume": {0: 0}}, [p], [{}])
    assert failures == ["ZeroDivisionError: division by zero"]


# ---------------------------------------------------------------------------
# references
# ---------------------------------------------------------------------------


def _random_edges(seed: int, n: int = 40, m: int = 120) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, n, size=(m, 2))


def test_pagerank_numpy_matches_the_package_oracle():
    from parallel_connected_components_spark.operators import pagerank_numpy_oracle

    e = _random_edges(1)
    want = pagerank_numpy_oracle([tuple(x) for x in e.tolist()])
    got = oracles.pagerank_numpy(e)
    assert got.keys() == want.keys()
    assert np.allclose([got[k] for k in want], list(want.values()), rtol=1e-12)


def test_triangles_duckdb_matches_brute_force():
    e = _random_edges(2)
    e = e[e[:, 0] != e[:, 1]]
    canon = np.unique(np.sort(e, axis=1), axis=0)
    adj = {tuple(x) for x in canon.tolist()}
    verts = sorted({v for x in adj for v in x})
    brute = sum(
        (a, b) in adj and (b, c) in adj and (a, c) in adj
        for a, b, c in itertools.combinations(verts, 3)
    )
    assert oracles.triangles_duckdb(canon) == brute > 0


def test_minhash_reference_finds_planted_duplicates():
    from perfbench.inputs import gen_docs

    docs = gen_docs(200, seed=5)
    sigs = oracles.minhash_signatures_py(docs)
    pairs = oracles.minhash_pairs_py(sigs, 8, 0.5)
    assert pairs and all(0.5 <= v <= 1.0 for v in pairs.values())
    clusters = oracles.clusters_py(docs["doc_id"], oracles.minhash_pairs_py(sigs, 8, 0.7))
    assert all(c <= d for d, c in clusters.items())


def test_tree_cpu_counts_this_process_and_reaped_children():
    import subprocess
    import sys
    import time

    before = run.tree_cpu_s(os.getpid())
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time() + 0.3\n"
                    "while time.process_time() < t: pass"], check=True)
    assert run.tree_cpu_s(os.getpid()) - before >= 0.5


def test_idle_and_skew_arithmetic():
    assert idle_seconds((0, 10), [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5)
    assert idle_seconds((0, 10), []) == 10
    assert weighted_skew([(10, 20, 30), (5, 5, 10)]) == pytest.approx((30 * 2 + 10) / 40)
    assert weighted_skew([]) == 1.0


# ---------------------------------------------------------------------------
# whole runs at tiny sizes
# ---------------------------------------------------------------------------


def test_untraced_run_emits_every_end_to_end_metric(tiny, restore_env):
    result, record = run.run("road_grid", seed=3, seconds=0.1, trace=False)
    assert result["correct"] and result["failed"] == 0, record["failures"]
    assert result["attempted"] == 2 * (1 + len(record["pass_op_s"]))
    assert all(v > 0 for p in record["pass_op_cpu_s"] for v in p.values())
    assert {m["name"] for m in _spec()["end_to_end"]} == set(result["metrics"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for k in ("loadavg_before", "loadavg_after", "nproc", "master", "spark", "pyarrow",
              "source_sha256", "warmup_s"):
        assert k in record


def test_traced_run_emits_every_per_layer_metric(tiny, restore_env):
    result, record = run.run("web_crawl", seed=3, seconds=0.1, trace=True)
    assert result["correct"] and result["failed"] == 0, record["failures"]
    names = {m["name"] for m in _spec()["per_layer"]}
    assert names == set(result["metrics"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["extract.jobs"] > 0 and m["cc.iterations"] > 0 and m["minhash.pairs"] > 0
    assert m["cc_resume.jobs"] == 0  # not an operation of this workload

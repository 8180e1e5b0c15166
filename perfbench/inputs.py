"""Seeded inputs for the workloads, written as parquet into the
run's own directory and read back from there.

Every input comes from the package's own generators (``gen_pages``,
``gen_grid_edges``) except the document corpus, which is drawn here with
numpy: a Zipf-distributed vocabulary plus planted near-duplicate copies,
so MinHash finds a known, nonempty set of pairs. The same seed always
gives the same tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd


def gen_docs(num_docs: int, seed: int, vocab: int = 500, dup_share: float = 0.3) -> pd.DataFrame:
    """(doc_id long, text string). A ``dup_share`` of the documents copy
    an earlier document and substitute 0-4 of its words, which keeps their
    3-shingle Jaccard with the source mostly above 0.5; the rest are fresh
    draws whose shingles almost never repeat across documents."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, vocab + 1)
    p /= p.sum()
    words = np.array([f"w{i:03d}" for i in range(vocab)])
    docs: list[list[str]] = []
    for i in range(num_docs):
        if i > 0 and rng.random() < dup_share:
            toks = list(docs[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(0, 5))):
                toks[int(rng.integers(0, len(toks)))] = words[rng.choice(vocab, p=p)]
        else:
            toks = list(words[rng.choice(vocab, size=int(rng.integers(20, 80)), p=p)])
        docs.append(toks)
    return pd.DataFrame(
        {"doc_id": np.arange(num_docs, dtype=np.int64), "text": [" ".join(d) for d in docs]}
    )


def write_inputs(spark, s: dict, seed: int, path: str) -> None:
    """Generate the tables a workload of sizes ``s`` reads, from ``seed``,
    into ``path`` (one parquet directory per table), replacing what was
    there."""
    from parallel_connected_components_spark.sources import gen_grid_edges, gen_pages

    shutil.rmtree(path, ignore_errors=True)
    if "pages" in s:
        gen_pages(
            spark, s["pages"], s["components"], s["links_per_page"], seed=seed, hub=s["hub"]
        ).write.parquet(os.path.join(path, "pages"))
    if "docs" in s:
        spark.createDataFrame(gen_docs(s["docs"], seed)).write.parquet(
            os.path.join(path, "docs")
        )
    if "grid_width" in s:
        gen_grid_edges(
            spark, s["grid_width"], s["grid_height"], num_grids=s["num_grids"], seed=seed
        ).write.parquet(os.path.join(path, "grid"))


def read_inputs(spark, path: str) -> dict:
    """Table name -> DataFrame over the parquet written by :func:`write_inputs`."""
    return {
        name: spark.read.parquet(os.path.join(path, name))
        for name in sorted(os.listdir(path))
        if not name.startswith((".", "_"))
    }

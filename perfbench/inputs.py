"""Seeded benchmark inputs, cached on disk by (kind, seed, size).

Two inputs are generated here (``run.py`` adds the PBF's transcode output
through ``InputCache.get``):

* a planet-shaped PBF written by the repository's own synthetic encoder
  (``tests/pbf_encoder.write_synthetic_pbf_fast``): dense-node blocks, then
  way blocks, then one relation block, in the 10 : 1 : 0.1 proportion the
  legacy ``bench.py`` transcode leg uses;
* a curation corpus shaped like the sf-tier ``documents`` and
  ``embeddings`` tables: a 31-word vocabulary, 5% planted near-duplicate
  documents (a copy of an earlier text plus the token ``dup``), five
  languages, twenty sources, and unit-norm 64-d embeddings in ten
  clusters with planted near-duplicate vectors.

Generation is input preparation, not set-up: ``run.py`` times it apart
from ``setup_s``. Each entry is written under a temporary name and renamed
into place, so an interrupted run never leaves a half-written entry, and
only the newest ``KEEP`` entries survive a new write.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

KEEP = 6

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EMBED_DIM = 64
N_CLUSTERS = 10


class InputCache:
    """Directory of generated inputs; ``get`` builds an entry on a miss."""

    def __init__(self, root: str, repo_root: str) -> None:
        self.root = root
        self.repo_root = repo_root
        os.makedirs(root, exist_ok=True)
        self.gen_s = 0.0
        self.misses = 0

    def get(self, kind: str, seed: int, size: int, build) -> str:
        """Path of the cached entry; ``build(tmp_dir)`` fills a miss."""
        path = os.path.join(self.root, f"{kind}-s{seed}-n{size}")
        if os.path.exists(os.path.join(path, "_READY")):
            os.utime(path)
            return path
        t0 = time.perf_counter()
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "_READY"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        self.gen_s += time.perf_counter() - t0
        self.misses += 1
        self._evict()
        return path

    def _evict(self) -> None:
        entries = sorted(
            (os.path.getmtime(p), p)
            for p in (os.path.join(self.root, n) for n in os.listdir(self.root))
            if os.path.isdir(p)
        )
        for _mtime, p in entries[:-KEEP]:
            shutil.rmtree(p, ignore_errors=True)

    def pbf(self, seed: int, n_nodes: int) -> tuple[str, dict]:
        """(path to the .osm.pbf, generator counts per kind)."""
        def build(tmp: str) -> None:
            sys.path.insert(0, os.path.join(self.repo_root, "tests"))
            try:
                from pbf_encoder import write_synthetic_pbf_fast
            finally:
                sys.path.pop(0)
            counts = write_synthetic_pbf_fast(
                os.path.join(tmp, "input.osm.pbf"), n_nodes=n_nodes,
                n_ways=n_nodes // 10, n_rels=n_nodes // 100, seed=seed,
            )
            with open(os.path.join(tmp, "counts.json"), "w") as f:
                json.dump(counts, f)

        d = self.get("pbf", seed, n_nodes, build)
        with open(os.path.join(d, "counts.json")) as f:
            counts = json.load(f)
        return os.path.join(d, "input.osm.pbf"), counts

    def corpus(self, seed: int, n_docs: int) -> str:
        """Directory holding ``documents.parquet`` and ``embeddings.parquet``."""
        return self.get("corpus", seed, n_docs,
                        lambda tmp: write_corpus(tmp, n_docs, seed))


def write_corpus(out_dir: str, n_docs: int, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    # planted near-duplicates: a copy of an earlier document plus "dup"
    for i in rng.choice(np.arange(1, n_docs), size=n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    n_vec = max(2 * n_docs // 5, N_CLUSTERS)
    centroids = rng.normal(size=(N_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, N_CLUSTERS, n_vec)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_vec, EMBED_DIM))
    # planted near-duplicate vectors: 5% are a small perturbation of another
    for i in rng.choice(np.arange(1, n_vec), size=n_vec // 20, replace=False):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(scale=0.02, size=EMBED_DIM)
        labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

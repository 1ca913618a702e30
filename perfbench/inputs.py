"""Seeded inputs of the `llm` workload, written as parquet so the engine
receives only the generated files.

Text corpus: a seeded sample of `documents` rows plus planted
near-duplicates (one token replaced in a document of >= 30 tokens) and
exact duplicates, each at a seeded rate. Vector corpus: every
`embeddings` row plus planted noisy copies; probes are noisy copies of
seeded corpus vectors; IVF centroids are seeded corpus vectors.
`truth.json` lists the planted pairs and the exact-duplicate groups the
benchmark checks the dedup results against.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the harness tables (see TESTDATA.md)
DEFAULT_DATA = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
CORPUS_DOCS = 1000
NEAR_BASE = 1_000_000
EXACT_BASE = 2_000_000
PROBE_BASE = 5_000_000
PROBES = 32
CELLS = 16
FILES = 4


def _write(table, path, files=1):
    os.makedirs(path)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i}.parquet"))


def generate_llm(data_dir, seed, out_dir):
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    pick = rng.permutation(len(ids))[:CORPUS_DOCS]
    base = [(ids[i], texts[i]) for i in pick]
    vocab = sorted({w for _, t in base for w in t.split(" ")})
    near_rate = 0.08 + 0.04 * rng.random()
    exact_rate = 0.04 + 0.02 * rng.random()
    long_docs = [base[i] for i in rng.permutation(len(base)) if len(base[i][1].split(" ")) >= 30]
    near, exact = [], []
    for i, (bid, t) in enumerate(long_docs[:int(near_rate * CORPUS_DOCS)]):
        toks = t.split(" ")
        toks[int(rng.integers(len(toks)))] = vocab[int(rng.integers(len(vocab)))] + "x"
        near.append((bid, NEAR_BASE + i, " ".join(toks)))
    for i, j in enumerate(rng.permutation(len(base))[:int(exact_rate * CORPUS_DOCS)]):
        bid, t = base[j]
        exact.append((bid, EXACT_BASE + i, t))
    corpus = base + [(d, t) for _, d, t in near] + [(d, t) for _, d, t in exact]
    order = rng.permutation(len(corpus))
    corpus = [corpus[i] for i in order]
    groups = {}
    for d, t in corpus:
        groups.setdefault(t.strip().lower(), []).append(d)
    _write(pa.table({"id": pa.array([d for d, _ in corpus], pa.int64()),
                     "text": pa.array([t for _, t in corpus], pa.string())}),
           os.path.join(out_dir, "docs"), FILES)

    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    vids = np.array(emb.column("vec_id").to_pylist(), dtype=np.int64)
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    k = len(vids) // 20
    src = rng.permutation(len(vids))[:k]
    near_v = vecs[src] + rng.normal(0, 0.01, (k, vecs.shape[1])).astype(np.float32)
    all_ids = np.concatenate([vids, NEAR_BASE + np.arange(k, dtype=np.int64)])
    all_vecs = np.concatenate([vecs, near_v])
    p = rng.permutation(len(all_ids))[:PROBES]
    probes = all_vecs[p] + rng.normal(0, 0.05, (PROBES, vecs.shape[1])).astype(np.float32)
    cents = all_vecs[rng.permutation(len(all_ids))[:CELLS]]

    def vec_table(i, v):
        return pa.table({"vec_id": pa.array(i, pa.int64()),
                         "embedding": pa.array([list(map(float, r)) for r in v], pa.list_(pa.float32()))})
    _write(vec_table(all_ids, all_vecs), os.path.join(out_dir, "vecs"), FILES)
    _write(vec_table(PROBE_BASE + np.arange(PROBES, dtype=np.int64), probes), os.path.join(out_dir, "probes"))
    _write(vec_table(np.arange(CELLS, dtype=np.int64), cents), os.path.join(out_dir, "cents"))

    truth = {
        "near_pairs": [[b, d] for b, d, _ in near],
        "exact_pairs": [[b, d] for b, d, _ in exact],
        "exact_groups": sorted([min(g), len(g)] for g in groups.values() if len(g) > 1),
        "probes": PROBES,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)

"""Seeded inputs for the benchmark workloads.

Every value is a function of (seed, stream, global row id) only: rows are
drawn in fixed blocks of BLOCK rows, each block from its own generator keyed
by (seed, stream, block index). Generating rows [lo, hi) in one call or in
any split of that range gives the same array, so inputs do not depend on how
many partitions or cores read them.

Inputs are written once per seed to Parquet under the cache directory; the
engine only ever receives those paths. Ground truth (exact top-10, planted
near-duplicate pairs) is derived from the same numpy arrays.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BLOCK = 1024

# Independent streams of one seed.
BASE, QUERY, UPSERT, CENTERS, TOKENS, LAYOUT, PICK = range(7)


def _block_rng(seed: int, stream: int, block: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, block])


def mixture_centers(seed: int, dim: int, n_components: int) -> np.ndarray:
    rng = np.random.default_rng([seed, CENTERS])
    return (rng.standard_normal((n_components, dim)) * 2.0).astype(np.float32)


def mixture_rows(
    seed: int, stream: int, lo: int, hi: int, dim: int, n_components: int
) -> np.ndarray:
    """Rows [lo, hi) of a Gaussian mixture: component centre plus unit noise."""
    centers = mixture_centers(seed, dim, n_components)
    out = np.empty((hi - lo, dim), np.float32)
    for b in range(lo // BLOCK, (hi - 1) // BLOCK + 1 if hi > lo else 0):
        rng = _block_rng(seed, stream, b)
        comp = rng.integers(0, n_components, BLOCK)
        block = centers[comp] + rng.standard_normal((BLOCK, dim), np.float32)
        s, e = max(lo, b * BLOCK), min(hi, (b + 1) * BLOCK)
        out[s - lo : e - lo] = block[s - b * BLOCK : e - b * BLOCK]
    return out


def token_rows(seed: int, lo: int, hi: int, n_tokens: int, vocab: int) -> np.ndarray:
    """Token ids of docs [lo, hi), uniform over the vocabulary."""
    out = np.empty((hi - lo, n_tokens), np.int64)
    for b in range(lo // BLOCK, (hi - 1) // BLOCK + 1 if hi > lo else 0):
        block = _block_rng(seed, TOKENS, b).integers(0, vocab, (BLOCK, n_tokens))
        s, e = max(lo, b * BLOCK), min(hi, (b + 1) * BLOCK)
        out[s - lo : e - lo] = block[s - b * BLOCK : e - b * BLOCK]
    return out


def _vec_table(ids: np.ndarray, vecs: np.ndarray, **extra) -> pa.Table:
    dim = vecs.shape[1]
    offsets = pa.array(np.arange(0, len(ids) * dim + 1, dim, dtype=np.int32))
    cols = {"id": pa.array(ids, pa.int64())}
    cols.update({k: pa.array(v) for k, v in extra.items()})
    cols["vec"] = pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel(), pa.float32()))
    return pa.table(cols)


def _write(table: pa.Table, path: str) -> str:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path


class VectorInputs:
    """Base vectors, held-out query batches and upsert batches of one seed.

    Query and upsert vectors come from their own streams of the same
    mixture, so no query is a base row. Upsert j replaces `n_replace`
    original ids (drawn from [0, n_base)) and adds `n_add` new ids
    n_base + j * n_add + [0, n_add).
    """

    def __init__(
        self,
        seed: int,
        n_base: int,
        dim: int,
        n_components: int,
        batch_size: int,
        n_batches: int,
        n_replace: int = 0,
        n_add: int = 0,
        n_upserts: int = 0,
    ):
        self.seed, self.n_base, self.dim = seed, n_base, dim
        self.n_components = n_components
        self.batch_size, self.n_batches = batch_size, n_batches
        self.n_replace, self.n_add, self.n_upserts = n_replace, n_add, n_upserts

    def base(self) -> np.ndarray:
        return mixture_rows(self.seed, BASE, 0, self.n_base, self.dim, self.n_components)

    def queries(self, batch: int) -> tuple[np.ndarray, np.ndarray]:
        lo = batch * self.batch_size
        hi = lo + self.batch_size
        vecs = mixture_rows(self.seed, QUERY, lo, hi, self.dim, self.n_components)
        return np.arange(lo, hi, dtype=np.int64), vecs

    def upsert(self, j: int) -> tuple[np.ndarray, np.ndarray]:
        size = self.n_replace + self.n_add
        replaced = np.random.default_rng([self.seed, PICK, j]).choice(
            self.n_base, self.n_replace, replace=False
        )
        added = self.n_base + j * self.n_add + np.arange(self.n_add)
        ids = np.concatenate([np.sort(replaced), added]).astype(np.int64)
        vecs = mixture_rows(
            self.seed, UPSERT, j * size, (j + 1) * size, self.dim, self.n_components
        )
        return ids, vecs

    def write(self, root: str) -> dict[str, str]:
        """Write base, query and upsert Parquet files once; return their paths."""
        os.makedirs(root, exist_ok=True)
        paths = {
            "base": os.path.join(root, "base.parquet"),
            "queries": os.path.join(root, "queries.parquet"),
        }
        if self.n_upserts:
            paths["upserts"] = os.path.join(root, "upserts.parquet")
        if all(os.path.exists(p) for p in paths.values()):
            return paths
        _write(_vec_table(np.arange(self.n_base, dtype=np.int64), self.base()), paths["base"])
        parts = [self.queries(b) for b in range(self.n_batches)]
        batch = np.repeat(np.arange(self.n_batches, dtype=np.int32), self.batch_size)
        _write(
            _vec_table(
                np.concatenate([p[0] for p in parts]),
                np.concatenate([p[1] for p in parts]),
                batch=batch,
            ),
            paths["queries"],
        )
        if self.n_upserts:
            parts = [self.upsert(j) for j in range(self.n_upserts)]
            size = self.n_replace + self.n_add
            batch = np.repeat(np.arange(self.n_upserts, dtype=np.int32), size)
            _write(
                _vec_table(
                    np.concatenate([p[0] for p in parts]),
                    np.concatenate([p[1] for p in parts]),
                    batch=batch,
                ),
                paths["upserts"],
            )
        return paths


class LiveBase:
    """numpy mirror of the index contents, updated by every upsert."""

    def __init__(self, base: np.ndarray, capacity: int):
        self.vecs = np.zeros((capacity, base.shape[1]), np.float32)
        self.vecs[: len(base)] = base
        self.alive = np.zeros(capacity, bool)
        self.alive[: len(base)] = True

    def upsert(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.vecs[ids] = vecs
        self.alive[ids] = True

    def exact_topk(self, queries: np.ndarray, k: int) -> np.ndarray:
        """Ids of the exact k nearest live rows per query (squared L2)."""
        ids = np.flatnonzero(self.alive)
        base = self.vecs[ids].astype(np.float64)
        base_sq = (base**2).sum(1)
        out = []
        for lo in range(0, len(queries), 128):
            q = queries[lo : lo + 128].astype(np.float64)
            d = base_sq[None, :] - 2.0 * (q @ base.T)  # + |q|^2, same for every row
            part = np.argpartition(d, k - 1, axis=1)[:, :k]
            order = np.take_along_axis(d, part, 1).argsort(1, kind="stable")
            out.append(ids[np.take_along_axis(part, order, 1)])
        return np.concatenate(out)

    def sq_l2(self, query: np.ndarray, ids: np.ndarray) -> np.ndarray:
        diff = self.vecs[ids].astype(np.float64) - query.astype(np.float64)[None, :]
        return (diff * diff).sum(1)


def zipf_cluster_sizes(seed: int, n_copies: int, cap: int, a: float = 2.0) -> list[int]:
    """Copy counts per duplicate cluster, Zipf-distributed, capped, summing
    to exactly n_copies."""
    rng = np.random.default_rng([seed, LAYOUT])
    sizes: list[int] = []
    left = n_copies
    while left > 0:
        s = int(min(rng.zipf(a), cap, left))
        sizes.append(s)
        left -= s
    return sizes


class DedupCorpus:
    """Synthetic docs of `n_tokens` words with planted near-duplicate clusters.

    A cluster is a template doc plus copies; each copy is the template with
    one word appended (word-3-gram Jaccard 38/39 with the template, 38/40
    or 1 between copies, all above the operator's 0.8 threshold). Copy
    counts per cluster are Zipf-distributed and capped, so a few band keys
    are hot. Doc ids are a seeded permutation of 0..n_docs-1 so copies are
    spread over the input.
    """

    def __init__(self, seed: int, n_docs: int, n_tokens: int, vocab: int,
                 dup_share: float, cap: int):
        self.seed, self.n_docs = seed, n_docs
        n_copies = int(n_docs * dup_share)
        self.sizes = zipf_cluster_sizes(seed, n_copies, cap)
        n_orig = n_docs - n_copies
        rng = np.random.default_rng([seed, LAYOUT, 1])
        self.templates = rng.choice(n_orig, len(self.sizes), replace=False)
        self.extra_words = rng.integers(0, vocab, n_copies)
        self.doc_ids = rng.permutation(n_docs).astype(np.int64)
        self.n_orig, self.n_tokens, self.vocab = n_orig, n_tokens, vocab

    def texts(self) -> list[str]:
        toks = token_rows(self.seed, 0, self.n_orig, self.n_tokens, self.vocab)
        texts = [" ".join(f"w{t}" for t in row) for row in toks]
        pos = 0
        for tmpl, size in zip(self.templates, self.sizes):
            for _ in range(size):
                texts.append(f"{texts[tmpl]} w{self.extra_words[pos]}")
                pos += 1
        return texts

    def planted_pairs(self) -> set[tuple[int, int]]:
        """Every (id_a, id_b), id_a < id_b, inside one cluster."""
        pairs = set()
        pos = self.n_orig
        for tmpl, size in zip(self.templates, self.sizes):
            members = [int(self.doc_ids[tmpl])]
            members += [int(self.doc_ids[pos + i]) for i in range(size)]
            pos += size
            members.sort()
            for i, a in enumerate(members):
                for b in members[i + 1 :]:
                    pairs.add((a, b))
        return pairs

    def write(self, root: str) -> str:
        os.makedirs(root, exist_ok=True)
        path = os.path.join(root, "docs.parquet")
        if not os.path.exists(path):
            _write(
                pa.table({"doc_id": pa.array(self.doc_ids), "text": pa.array(self.texts())}),
                path,
            )
        return path

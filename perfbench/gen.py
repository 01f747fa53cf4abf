"""Seeded input generation for vector_ingest.

The stream is a mixture of Gaussian clusters on the unit sphere, cut
into batches in the embeddings schema (vec_id BIGINT, embedding
ARRAY<FLOAT>, label INT). From batch 1 on, some vectors are planted
near-duplicates of a clean vector from an earlier batch. Every cosine
the admission threshold can see is kept clear of it:

- a clean vector has exact cosine < CLEAN_MAX with every earlier vector;
- a planted vector has cosine in [DUP_MIN, DUP_MAX] with its source and
  < CLEAN_MAX with every other earlier vector;

so with the threshold at 0.92 a correct admission never depends on
float rounding. Each source gets at most one planted copy.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLUSTERS = 16
SIGMA = 0.125          # per-dimension spread around a cluster centre
CLEAN_MAX = 0.85
DUP_MIN, DUP_MAX = 0.96, 0.99
PANEL_ID0 = 1_000_000_000


def _unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


class Stream:
    """Vectors in stream order with their batch, label and planted source."""

    def __init__(self, seed, sizes, planted_per_batch, panel):
        rng = np.random.default_rng(seed)
        self.centres = _unit(rng.standard_normal((CLUSTERS, DIM)))
        n = sum(sizes)
        self.vecs = np.zeros((n, DIM), dtype=np.float32)
        self.batch_of = np.zeros(n, dtype=np.int64)
        self.labels = np.zeros(n, dtype=np.int32)
        self.source = {}        # planted position -> source position
        bounds = [0]
        for size in sizes:
            bounds.append(bounds[-1] + size)
        self.bounds = bounds
        used_sources = set()
        filled = 0
        for b in range(len(sizes)):
            size = bounds[b + 1] - bounds[b]
            n_dup = planted_per_batch if b > 0 else 0
            kinds = np.array([True] * n_dup + [False] * (size - n_dup))
            rng.shuffle(kinds)
            for planted in kinds:
                if planted:
                    v, lab, src = self._planted(rng, filled, bounds[b], used_sources)
                    self.source[filled] = src
                    used_sources.add(src)
                else:
                    v, lab = self._clean(rng, filled)
                self.vecs[filled] = v
                self.labels[filled] = lab
                self.batch_of[filled] = b
                filled += 1
        self.ids = np.arange(1, n + 1, dtype=np.int64)
        self.panel = np.stack([self._draw(rng)[0] for _ in range(panel)]).astype(np.float32)
        self.panel_ids = np.arange(PANEL_ID0, PANEL_ID0 + panel, dtype=np.int64)

    def _draw(self, rng):
        c = rng.integers(CLUSTERS)
        return _unit(self.centres[c] + SIGMA * rng.standard_normal(DIM)), c

    def _cos_prev(self, v, upto):
        prev = self.vecs[:upto].astype(np.float64)
        return prev @ v.astype(np.float64) / np.linalg.norm(prev, axis=1) \
            / np.linalg.norm(v.astype(np.float64)) if upto else np.zeros(0)

    def _clean(self, rng, upto):
        for _ in range(10_000):
            v, c = self._draw(rng)
            v = v.astype(np.float32)
            if upto == 0 or self._cos_prev(v, upto).max() < CLEAN_MAX:
                return v, c
        raise RuntimeError("could not draw a clean vector")

    def _planted(self, rng, upto, batch_start, used):
        clean = [i for i in range(batch_start) if i not in self.source and i not in used]
        for _ in range(10_000):
            src = clean[rng.integers(len(clean))]
            v = _unit(self.vecs[src] + 0.03 * rng.standard_normal(DIM)).astype(np.float32)
            cs = self._cos_prev(v, upto)
            others = np.delete(cs, src)
            if DUP_MIN <= cs[src] <= DUP_MAX and (others.size == 0 or others.max() < CLEAN_MAX):
                return v, self.labels[src], src
        raise RuntimeError("could not plant a near-duplicate")

    def write(self, out_dir):
        """batch_NNN.parquet per batch plus panel.parquet, in the
        embeddings schema."""
        schema = pa.schema([("vec_id", pa.int64()),
                            ("embedding", pa.list_(pa.float32())),
                            ("label", pa.int32())])

        def table(ids, vecs, labels):
            return pa.table([pa.array(ids), pa.array(list(vecs), type=pa.list_(pa.float32())),
                             pa.array(labels)], schema=schema)

        for b in range(len(self.bounds) - 1):
            lo, hi = self.bounds[b], self.bounds[b + 1]
            pq.write_table(table(self.ids[lo:hi], self.vecs[lo:hi], self.labels[lo:hi]),
                           f"{out_dir}/batch_{b:03d}.parquet")
        pq.write_table(table(self.panel_ids, self.panel,
                             np.full(len(self.panel_ids), -1, dtype=np.int32)),
                       f"{out_dir}/panel.parquet")

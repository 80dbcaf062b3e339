"""Seeded input generators. The same seed gives the same files; the
engine only ever sees the files.

- :func:`fingerprint` identifies a set of input files, generated or
  fixed (``perfbench/data``).
- :func:`corpus` and :func:`vectors` build the near-duplicate corpus
  and embeddings with planted ground truth.
- :func:`write_event_files` writes the event files the stream consumes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_2024_US = 1_704_067_200_000_000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def fingerprint(path: str) -> str:
    """sha256 over the bytes of every file under ``path`` (sorted)."""
    import hashlib

    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name.startswith(".") or name.startswith("_"):
                continue
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


# --------------------------------------------------------------------
# corpus_dedup inputs
# --------------------------------------------------------------------
def corpus(seed: int, n_docs: int, near_frac: float = 0.10, exact_frac: float = 0.02):
    """``(rows, near_pairs, exact_groups)``.

    Base documents draw 30-80 tokens from a 5,000-word vocabulary, so
    unrelated documents share almost no 3-gram. A planted near-copy
    replaces one token of a distinct base document (3-gram Jaccard
    about 0.8-0.93); a planted exact copy repeats a base verbatim.
    ``near_pairs`` is the set of (base id, copy id); ``exact_groups``
    maps each copied text's min id to its copy count."""
    rng = np.random.default_rng(seed)
    n_near, n_exact = int(n_docs * near_frac), int(n_docs * exact_frac)
    n_base = n_docs - n_near - n_exact
    texts = [
        " ".join(f"w{t}" for t in rng.integers(0, 5000, int(rng.integers(30, 81))))
        for _ in range(n_base)
    ]
    bases = rng.choice(n_base, n_near + n_exact, replace=False)
    near_src, exact_src = [], []
    for b in bases[:n_near]:
        toks = texts[b].split()
        toks[int(rng.integers(0, len(toks)))] = f"x{int(rng.integers(0, 1_000_000))}"
        near_src.append((int(b), len(texts)))
        texts.append(" ".join(toks))
    for b in bases[n_near:]:
        exact_src.append((int(b), len(texts)))
        texts.append(texts[b])
    order = rng.permutation(len(texts))  # copies are not all at the end
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[order] = np.arange(len(texts))
    rows = [(i, texts[order[i]]) for i in range(len(texts))]
    near = {tuple(sorted((int(new_id[a]), int(new_id[b])))) for a, b in near_src}
    exact = {min(int(new_id[a]), int(new_id[b])): 2 for a, b in exact_src}
    return rows, near, exact


def vectors(seed: int, n: int, dim: int = 64, planted_frac: float = 0.10, noise: float = 0.02):
    """``(matrix, planted_pairs)``: unit vectors, ``planted_frac`` of
    them a noisy copy of a distinct base vector (cosine about 0.98)."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, dim))
    n_pl = int(n * planted_frac)
    src = rng.choice(n - n_pl, n_pl, replace=False)
    x[n - n_pl:] = x[src] / np.linalg.norm(x[src], axis=1, keepdims=True) * np.sqrt(dim)
    x[n - n_pl:] += rng.standard_normal((n_pl, dim)) * noise * np.sqrt(dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    pairs = {tuple(sorted((int(s), n - n_pl + i))) for i, s in enumerate(src)}
    return x, pairs


# --------------------------------------------------------------------
# sensor_stream inputs
# --------------------------------------------------------------------
def write_event_files(out_dir: str, seed: int, n_files: int, rows_per_file: int,
                      span_s: int = 3600) -> list[str]:
    """``n_files`` event files in the ``events`` table's schema, each
    covering the next ``span_s`` seconds; modification times increase
    with the file index so a file stream reads them in order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths = []
    for i in range(n_files):
        lo = _EPOCH_2024_US + i * span_s * 1_000_000
        ts = np.sort(rng.choice(span_s * 1_000_000, rows_per_file, replace=False)) + lo
        cols = {
            "event_id": pa.array(np.arange(rows_per_file, dtype=np.int64) + i * rows_per_file),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 1500, rows_per_file).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, rows_per_file)),
            "value": pa.array(np.round(rng.exponential(50.0, rows_per_file), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows_per_file)]),
        }
        p = os.path.join(out_dir, f"events-{i:04d}.parquet")
        pq.write_table(pa.table(cols), p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(p)
    return paths

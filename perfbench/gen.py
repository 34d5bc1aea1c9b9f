"""Seeded input generator for the benchmark (FIXTURES.md F1/F2/F3 + a text corpus).

Everything is a pure function of ``(seed, sizes)`` computed with NumPy in
this process, so the benchmark's inputs never change when the package's own
synthetic-data module does.  Each generator writes a directory of parquet
files (``N_FILES`` files, so the scan has more splits than task slots on
small hosts) and returns a SHA-256 of the logical table contents, which the
benchmark records per seed.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 16
VOCAB = 20                      # protein alphabet; id 20 is the gap token
GAP = VOCAB
SOURCES = ["src_a", "src_b", "src_c", "src_d", "src_e"]
SOURCE_P = [0.70, 0.12, 0.08, 0.06, 0.04]
EPOCH_US = 1_704_067_200 * 1_000_000          # 2024-01-01T00:00:00
SPAN_S = 90 * 24 * 3600


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=(seed << 8) ^ stream))


def _lengths(g: np.random.Generator, n: int, median: float, lo: int,
             hi: int) -> np.ndarray:
    return np.clip(g.lognormal(np.log(median), 1.0, size=n), lo, hi).astype(
        np.int64)


def _list_array(flat: np.ndarray, lengths: np.ndarray) -> pa.Array:
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))


def _write(table: pa.Table, out_dir: str) -> str:
    """Write `table` as N_FILES parquet files; return its content digest."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(tmp, f"part-{i:03d}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return digest(table)


def digest(table: pa.Table) -> str:
    h = hashlib.sha256()
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        h.update(name.encode())
        for buf in col.buffers():
            if buf is not None:
                h.update(buf)
    return h.hexdigest()


def sequences_table(seed: int, n_docs: int) -> pa.Table:
    """F1: (doc_id, tokens, n_tok, source) with lognormal lengths (median
    64, tail to 4096), a 70% hot source and 1% gap tokens."""
    g = _rng(seed, 1)
    lens = _lengths(g, n_docs, 64, 8, 4096)
    toks = g.integers(0, VOCAB, size=int(lens.sum()), dtype=np.int32)
    toks[g.random(len(toks)) < 0.01] = GAP
    src = g.choice(len(SOURCES), size=n_docs, p=SOURCE_P)
    return pa.table({
        "doc_id": pa.array([f"D{i:08d}" for i in range(n_docs)]),
        "tokens": _list_array(toks, lens),
        "n_tok": pa.array(lens.astype(np.int32)),
        "source": pa.array(np.asarray(SOURCES, dtype=object)[src]),
    })


def sequences(seed: int, n_docs: int, out_dir: str) -> str:
    return _write(sequences_table(seed, n_docs), out_dir)


def revisions(seed: int, n_docs: int, out_dir: str) -> str:
    """F2: ~20% of docs get 2..20 revisions, each a 5% point mutation of the
    previous one with an occasional length change; ts strictly increasing
    per doc with a seconds-to-days inter-arrival mixture."""
    g = _rng(seed, 2)
    lens = _lengths(g, n_docs, 64, 8, 4096)
    n_revs = np.where(g.random(n_docs) < 0.2,
                      g.integers(2, 21, size=n_docs), 1)
    t0 = g.random(n_docs) * SPAN_S * 0.5
    src = g.choice(len(SOURCES), size=n_docs, p=SOURCE_P)
    doc_ids, ts, rows = [], [], []
    for d in range(n_docs):
        cur = g.integers(0, VOCAB, size=int(lens[d]), dtype=np.int32)
        t = t0[d]
        for _ in range(int(n_revs[d])):
            doc_ids.append(d)
            ts.append(t)
            rows.append(cur)
            cur = cur.copy()
            n_mut = max(1, len(cur) // 20)
            cur[g.integers(0, len(cur), size=n_mut)] = g.integers(
                0, VOCAB, size=n_mut)
            if g.random() < 0.2:
                delta = int(g.integers(-4, 5))
                if delta > 0:
                    cur = np.concatenate(
                        [cur, g.integers(0, VOCAB, size=delta, dtype=np.int32)])
                elif delta < 0 and len(cur) + delta >= 8:
                    cur = cur[:delta]
            t += float(np.exp(g.uniform(np.log(30), np.log(5 * 24 * 3600))))
    doc_ids = np.asarray(doc_ids)
    rlens = np.fromiter((len(r) for r in rows), np.int64, len(rows))
    table = pa.table({
        "doc_id": pa.array([f"D{i:08d}" for i in doc_ids]),
        "ts": pa.array(EPOCH_US + (np.asarray(ts) * 1e6).astype(np.int64),
                       pa.timestamp("us")),
        "tokens": _list_array(np.concatenate(rows), rlens),
        "n_tok": pa.array(rlens.astype(np.int32)),
        "source": pa.array(np.asarray(SOURCES, dtype=object)[src[doc_ids]]),
    })
    return _write(table, out_dir)


def requests(seed: int, n_docs: int, out_dir: str, per_doc: int = 4) -> str:
    """F3: `per_doc` (doc_id, ts) requests per doc, uniform over the
    revisions' range ±5%, so some requests precede every revision."""
    g = _rng(seed, 3)
    n = n_docs * per_doc
    t = g.random(n) * SPAN_S * 1.1 - SPAN_S * 0.05
    table = pa.table({
        "doc_id": pa.array([f"D{i // per_doc:08d}" for i in range(n)]),
        "ts": pa.array(EPOCH_US + (t * 1e6).astype(np.int64),
                       pa.timestamp("us")),
    })
    return _write(table, out_dir)


def _words(g: np.random.Generator, n_words: int) -> np.ndarray:
    """`n_words` distinct lowercase pseudo-words of 2..9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: dict[str, None] = {}
    while len(out) < n_words:
        k = n_words - len(out)
        lens = g.integers(2, 10, size=k)
        chars = letters[g.integers(0, 26, size=int(lens.sum()))]
        pos = np.concatenate(([0], np.cumsum(lens)))
        for i in range(k):
            out.setdefault("".join(chars[pos[i]:pos[i + 1]]))
    return np.asarray(list(out)[:n_words], dtype=object)


def corpus(seed: int, n_docs: int, out_dir: str, vocab: int = 30_000,
           clone_rate: float = 0.05, edit_rate: float = 0.05
           ) -> tuple[str, list[tuple[int, int]]]:
    """Text corpus: Zipf(1.1) word draws over a `vocab`-word vocabulary,
    lognormal lengths (median 60 words), and `clone_rate` planted
    near-clones of earlier docs with each word replaced w.p. `edit_rate`.

    Returns (digest, planted (source_id, clone_id) pairs)."""
    g = _rng(seed, 4)
    words = _words(g, vocab)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()
    lens = _lengths(g, n_docs, 60, 5, 2000)
    ids = g.choice(vocab, size=int(lens.sum()), p=p)
    pos = np.concatenate(([0], np.cumsum(lens)))
    docs = [ids[pos[i]:pos[i + 1]] for i in range(n_docs)]
    n_clones = int(n_docs * clone_rate)
    clone_ids = g.choice(np.arange(1, n_docs), size=n_clones, replace=False)
    planted = []
    for c in np.sort(clone_ids):
        src = int(g.integers(0, c))
        base = docs[src].copy()
        edit = g.random(len(base)) < edit_rate
        base[edit] = g.choice(vocab, size=int(edit.sum()), p=p)
        docs[c] = base
        planted.append((src, int(c)))
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array([" ".join(words[d]) for d in docs]),
    })
    return _write(table, out_dir), planted

"""Batch-vectorized numpy kernels over ragged token batches.

Every kernel consumes a whole Arrow batch of token arrays at once — one
``Ragged`` (flattened tokens + offsets) — and produces an ``(n_rows, dim)``
float64 matrix with **no per-row Python loop** for the compositional
archetypes.  This inverts the reference's per-sequence loops
(iFeatureOmegaCLI.py:422 etc.) into columnar form, which is what makes the
Arrow/pandas-UDF path fast: one Python invocation per ~2048 rows, all work
inside numpy.

Archetype map (SURVEY.md §2.0):
  A1 k-gram composition  -> kgram_counts / kspaced_pair_counts
  A2 positional lookup   -> positional_lookup / positional_gram_ids
                            (equal-length)
  A3 sliding window      -> sliding_window_comp (equal-length)
  A4 lag autocorrelation -> lag_sums (+ lag_den for pair means); also the
                            A5 pseudo-composition θ terms
  A6 reduced alphabet    -> apply a remap array before A1
  A7 cumulative stats    -> cumulative_frequency etc.
"""

from __future__ import annotations

import numpy as np


class Ragged:
    """A batch of variable-length int token rows in flattened form.

    Derived batch structure (row ids, gap-stripped twins) is memoized on the
    instance: a fused multi-descriptor pass calls ``strip(gap)`` /
    ``row_ids()`` once per kernel, and the results depend only on the batch —
    computing them once per batch instead of once per kernel removes the
    dominant redundant memory traffic of the fused path (guide §4.2: make
    the per-batch native work minimal).  Instances are short-lived
    (per-Arrow-batch), so the caches cannot grow unboundedly.
    """

    __slots__ = ("flat", "lengths", "offsets", "n", "_rid", "_stripped")

    def __init__(self, flat: np.ndarray, lengths: np.ndarray):
        self.flat = flat
        self.lengths = lengths
        self.offsets = np.concatenate(([0], np.cumsum(lengths)))
        self.n = len(lengths)
        self._rid = None
        self._stripped: dict[int, "Ragged"] = {}

    @classmethod
    def from_arrays(cls, arrays) -> "Ragged":
        """Build from an iterable of np.ndarray (e.g. a pandas Series from Arrow)."""
        lengths = np.fromiter((len(a) for a in arrays), dtype=np.int64, count=len(arrays))
        if lengths.sum() == 0:
            return cls(np.empty(0, dtype=np.int64), lengths)
        flat = np.concatenate(list(arrays)).astype(np.int64, copy=False)
        return cls(flat, lengths)

    @classmethod
    def from_arrow(cls, arr) -> "Ragged":
        """Zero-copy build from a pyarrow ListArray of integer tokens.

        Reads the list offsets and the flat child values directly from the
        Arrow buffers — no per-row Python objects, no per-row concatenate
        (guide §4.2: binary/list columns are one contiguous buffer plus an
        offsets array).  Null rows become empty rows (zero-vector output)
        through one mask over the flat values."""
        import pyarrow as pa

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        offsets = arr.offsets.to_numpy()
        lengths = np.diff(offsets).astype(np.int64)
        flat = arr.values.to_numpy(zero_copy_only=False)[
            offsets[0]:offsets[-1]].astype(np.int64)
        if arr.null_count:
            valid = arr.is_valid().to_numpy(zero_copy_only=False)
            flat = flat[np.repeat(valid, lengths)]
            lengths[~valid] = 0
        return cls(flat, lengths)

    def row_ids(self) -> np.ndarray:
        if self._rid is None:
            self._rid = np.repeat(np.arange(self.n), self.lengths)
        return self._rid

    def strip(self, token: int) -> "Ragged":
        """Drop all occurrences of `token` (gap-stripping, ref :423).

        Memoized per token id — every gap-stripping kernel in a fused pass
        shares one stripped twin.  When the batch contains no such token the
        batch itself is returned (no copy)."""
        cached = self._stripped.get(token)
        if cached is not None:
            return cached
        keep = self.flat != token
        if keep.all():
            out = self
        else:
            rid = self.row_ids()[keep]
            lengths = np.bincount(rid, minlength=self.n).astype(np.int64)
            out = Ragged(self.flat[keep], lengths)
        self._stripped[token] = out
        return out

    def remap(self, mapping: np.ndarray) -> "Ragged":
        """Apply an alphabet remap (A6) — same shape, new ids.

        The twin shares this batch's row-id cache (identical lengths)."""
        out = Ragged(mapping[self.flat], self.lengths)
        out._rid = self._rid
        return out

    def to_matrix(self) -> np.ndarray:
        """(n, L) matrix — only valid when all rows equal-length."""
        L = int(self.lengths[0]) if self.n else 0
        if self.n and not np.all(self.lengths == L):
            raise ValueError("to_matrix requires equal-length rows")
        return self.flat.reshape(self.n, L)


def _safe_div(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    den = np.where(den == 0, 1.0, den)
    return num / den


def unigram_counts(r: Ragged, vocab: int, normalize: bool = True) -> np.ndarray:
    """A1 k=1: per-row token frequency.  Ids >= vocab are ignored."""
    rid = r.row_ids()
    ok = r.flat < vocab
    c = np.bincount(rid[ok] * vocab + r.flat[ok], minlength=r.n * vocab)
    out = c.reshape(r.n, vocab).astype(np.float64)
    if normalize:
        out = _safe_div(out, out.sum(axis=1, keepdims=True))
    return out


def _valid_gram_mask(r: Ragged, span: int) -> np.ndarray:
    """Mask over flat positions: True where a gram of total span `span`
    starting here stays inside the row."""
    pos_in_row = np.arange(len(r.flat)) - np.repeat(r.offsets[:-1], r.lengths)
    return pos_in_row + span <= np.repeat(r.lengths, r.lengths)


def kgram_ids(r: Ragged, vocab: int, k: int, gap: int = 0):
    """Gram ids for k tokens spaced by `gap` (stride gap+1 between tokens).

    Returns (ids, row_ids) for all valid positions; positions containing a
    token >= vocab are dropped.
    """
    step = gap + 1
    span = (k - 1) * step + 1
    if len(r.flat) == 0 or span <= 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    valid = _valid_gram_mask(r, span)
    idx = np.nonzero(valid)[0]
    ids = np.zeros(len(idx), dtype=np.int64)
    ok = np.ones(len(idx), dtype=bool)
    for j in range(k):
        t = r.flat[idx + j * step]
        ok &= t < vocab
        ids = ids * vocab + np.where(t < vocab, t, 0)
    return ids[ok], r.row_ids()[idx[ok]]


def kgram_counts(
    r: Ragged, vocab: int, k: int, normalize: bool = True, gap: int = 0
) -> np.ndarray:
    """A1: contiguous (or k-spaced) k-gram composition, dim vocab**k."""
    dim = vocab**k
    ids, rid = kgram_ids(r, vocab, k, gap)
    c = np.bincount(rid * dim + ids, minlength=r.n * dim).reshape(r.n, dim).astype(np.float64)
    if normalize:
        c = _safe_div(c, c.sum(axis=1, keepdims=True))
    return c


def kspaced_pair_counts(
    r: Ragged, vocab: int, kspace: int, normalize: bool = True
) -> np.ndarray:
    """CKSAAP/CKSNAP (ref :469-508): pair counts at gaps 0..kspace.

    Output layout: [gap0 pairs(vocab²), gap1 pairs, ...]; type 1 divides each
    gap block by its own valid-pair count, type 2 leaves raw counts.
    Position structure is computed once; the validity filter is skipped
    when the batch is pre-stripped (all ids < vocab), the common case.
    """
    n, dim = r.n, vocab * vocab
    pos = np.arange(len(r.flat)) - np.repeat(r.offsets[:-1], r.lengths)
    rl = np.repeat(r.lengths, r.lengths)
    rid = r.row_ids()
    fast = len(r.flat) == 0 or r.flat.max() < vocab
    # one preallocated output written block-by-block: the old
    # per-gap astype(float64) + _safe_div temporary + final concatenate
    # tripled the memory traffic of an output that is already large
    # (n × (kspace+1)·vocab² float64) — measured 2.7× on the CKSAAP batch
    # kernel.  The per-row denominator is the block's valid-pair count
    # (a bincount over pair row-ids), identical to the old block row-sum.
    out = np.empty((n, (kspace + 1) * dim))
    for g in range(kspace + 1):
        idx = np.nonzero(pos + g + 2 <= rl)[0]
        a, b = r.flat[idx], r.flat[idx + g + 1]
        w = rid[idx]
        if not fast:
            ok = (a < vocab) & (b < vocab)
            a, b, w = a[ok], b[ok], w[ok]
        c = np.bincount(w * dim + a * vocab + b,
                        minlength=n * dim).reshape(n, dim)
        block = out[:, g * dim:(g + 1) * dim]
        if normalize:
            den = np.bincount(w, minlength=n)
            den = np.where(den == 0, 1, den).astype(np.float64)
            np.divide(c, den[:, None], out=block)
        else:
            block[:] = c
    return out


def positional_lookup(r: Ragged, table: np.ndarray) -> np.ndarray:
    """A2: per-position lookup gather → (n, L*D); equal-length only.

    `table` is (vocab+1, D): the last row is the gap/unknown vector
    (usually zeros, ref binary :616-635 maps '-' to zeros).
    """
    m = r.to_matrix()
    clipped = np.minimum(m, table.shape[0] - 1)
    return table[clipped].reshape(r.n, -1).astype(np.float64)


def positional_gram_ids(m: np.ndarray, vocab: int, k: int):
    """A2 k-gram id at every start of an (n, L) token matrix.

    Returns (ids, ok), each (n, max(L−k+1, 0)); ok is False where the
    k-gram holds a token >= vocab (gap/unknown), whose id then reads those
    tokens as 0."""
    W = max(m.shape[1] - k + 1, 0)
    ids = np.zeros((m.shape[0], W), dtype=np.int64)
    ok = np.ones_like(ids, dtype=bool)
    for j in range(k):
        t = m[:, j:W + j]
        ok &= t < vocab
        ids = ids * vocab + np.where(t < vocab, t, 0)
    return ids, ok


def sliding_window_comp(
    r: Ragged,
    vocab_out: int,
    window: int,
    perm: np.ndarray | None = None,
    denom: str = "window",
) -> np.ndarray:
    """A3 (EAAC/ENAC/EGAAC, ref :438-467, :4662-4695, :1060-1098).

    Equal-length rows; for each window start j in [0, L-w], the composition
    of tokens (after optional perm/grouping) over the window.  Tokens mapped
    to id == vocab_out are counted in the denominator when denom='window'
    (the reference divides by the window size, counting gaps) but never in
    the numerator.
    """
    m = r.to_matrix()
    if perm is not None:
        m = perm[m]
    n, L = m.shape
    if n == 0 or L < window:
        return np.zeros((n, 0))
    out = np.empty((n, (L - window + 1) * vocab_out))
    # the one-hot prefix cube is O(rows·L·V·8 B); bound the transient by
    # processing row chunks (~64 MB of intermediates each) — long-token
    # batches (8192 tokens × 2048 rows × V=20 ≈ 2.6 GB unchunked) stay flat
    chunk = max(1, (64 << 20) // max(1, L * vocab_out * 8))
    for lo in range(0, n, chunk):
        mc = m[lo:lo + chunk]
        nc = len(mc)
        oh = (mc[..., None] == np.arange(vocab_out)).astype(np.int32)
        P = np.zeros((nc, L + 1, vocab_out), dtype=np.int32)
        np.cumsum(oh, axis=1, out=P[:, 1:, :])
        del oh
        W = P[:, window:, :] - P[:, :-window, :]   # (nc, L-w+1, V)
        del P
        if denom == "window":
            res = W.astype(np.float64) / float(window)
        elif denom == "valid":
            tot = W.sum(axis=2, keepdims=True).astype(np.float64)
            res = _safe_div(W.astype(np.float64), tot)
        else:
            res = W.astype(np.float64)
        out[lo:lo + chunk] = res.reshape(nc, -1)
    return out


def cumulative_frequency(r: Ragged) -> np.ndarray:
    """A7 ANF (ref :4604-4627): out[j] = count of token[j] in tokens[0..j] / (j+1).

    Counts every token — including the gap token, matching the reference
    which counts '-' like any other character.  Equal-length only; (n, L)."""
    return running_count_frequency(r.to_matrix())


# per-series lag terms over the heads x[:-d] and partners x[d:] of lag d;
# xc is the row-centred x
_LAG_TERMS = {
    "prod": lambda x, xc, d: x[:-d] * x[d:],
    "cprod": lambda x, xc, d: xc[:-d] * xc[d:],
    "sqdiff": lambda x, xc, d: (x[:-d] - x[d:]) ** 2,
    "headsq": lambda x, xc, d: xc[:-d] * xc[:-d],
}


def lag_sums(r: Ragged, nlag: int, xs=(), terms=(), cross=(), mats=()):
    """A4/A5: per-row sums over the lag-d pairs (j, j+d), d = 1..nlag.

    The one place that decides which pairs count at lag d: both positions
    lie in the same row.  Lags are the outer loop — lag d's pair set (one
    bin per flat pair) is built once, every requested term is applied to
    it, and it is freed before d+1.  Terms read heads and partners as the
    contiguous slices [:-d] / [d:] of the flat series, so no per-pair index
    arrays are gathered or kept (keeping every lag's index arrays alive at
    once measured 15-30% slower on PAAC).

      xs     property series aligned with r.flat; x̄ is x's row mean
      terms  per series, any of
               "prod"    Σ x_j·x_{j+d}
               "cprod"   Σ (x_j−x̄)(x_{j+d}−x̄)
               "sqdiff"  Σ (x_j−x_{j+d})²
               "headsq"  Σ (x_j−x̄)² over the pair heads j
               "ssq"     Σ_j (x_j−x̄)² over the whole row (no lag axis)
      cross  series index pairs (a, b): Σ (xa_j−x̄a)(xb_{j+d}−x̄b)
      mats   matrices M over the tokens t = r.flat: Σ M[t_j, t_{j+d}]

    Returns {term: (len(xs), n, nlag)} ("ssq": (len(xs), n)), plus "cross"
    (len(cross), n, nlag) and "mat" (len(mats), n, nlag) when asked.  A
    pair mean divides by ``lag_den``.  Segmented bincounts only.
    """
    n = r.n
    rid = r.row_ids()
    out = {}
    xcs = [None] * len(xs)
    if cross or {"cprod", "headsq", "ssq"} & set(terms):
        lengths = np.maximum(r.lengths.astype(np.float64), 1.0)
        xcs = [x - (np.bincount(rid, weights=x, minlength=n) / lengths)[rid]
               for x in xs]
    if "ssq" in terms:
        out["ssq"] = np.zeros((len(xs), n))
        for p, xc in enumerate(xcs):
            out["ssq"][p] = np.bincount(rid, weights=xc * xc, minlength=n)
    lagged = [t for t in terms if t != "ssq"]
    for t in lagged:
        out[t] = np.zeros((len(xs), n, nlag))
    if cross:
        out["cross"] = np.zeros((len(cross), n, nlag))
    if mats:
        out["mat"] = np.zeros((len(mats), n, nlag))
    # positions left in the row from j on: (j, j+d) is a pair iff left > d
    left = np.repeat(r.offsets[1:], r.lengths) - np.arange(len(r.flat))
    for d in range(1, nlag + 1):
        # bin of every flat pair (j, j+d): j's row, or the dropped spill
        # bin n when j+d lies past the row end
        w = np.where(left[:-d] > d, rid[:-d], n)

        def put(dst, weights):
            dst[:, d - 1] = np.bincount(w, weights=weights, minlength=n + 1)[:n]

        for t in lagged:
            for p, x in enumerate(xs):
                put(out[t][p], _LAG_TERMS[t](x, xcs[p], d))
        for c, (a, b) in enumerate(cross):
            put(out["cross"][c], xcs[a][:-d] * xcs[b][d:])
        for m, M in enumerate(mats):
            put(out["mat"][m], M[r.flat[:-d], r.flat[d:]])
    return out


def lag_den(r: Ragged, nlag: int) -> np.ndarray:
    """(n, nlag) divisor of a lag-d pair mean: max(N−d, 1) per row."""
    return np.maximum(r.lengths[:, None] - np.arange(1, nlag + 1), 1.0)


def gram_view(r: Ragged, vocab: int, k: int):
    """View the batch as a series of contiguous k-gram ids per row.

    Returns (gram_ids, Ragged2) where Ragged2 has lengths max(L-k+1, 0) and
    gram_ids are ordered row-major (same order as positions).  Tokens must
    already be < vocab (strip gaps first)."""
    if k == 1:
        return r.flat.copy(), r
    valid = _valid_gram_mask(r, k)
    idx = np.nonzero(valid)[0]
    ids = np.zeros(len(idx), dtype=np.int64)
    for j in range(k):
        ids = ids * vocab + r.flat[idx + j]
    lengths2 = np.maximum(r.lengths - k + 1, 0)
    return ids, Ragged(ids, lengths2)


def running_count_frequency(m: np.ndarray) -> np.ndarray:
    """out[i, j] = count of m[i, j] in m[i, :j+1], divided by (j+1).

    Generic A7 cumulative kernel over an integer matrix (ANF over tokens,
    LPDF over digram ids)."""
    n, L = m.shape
    vocab = int(m.max()) + 1 if m.size else 1
    oh = (m[..., None] == np.arange(vocab)).astype(np.int64)
    csum = np.cumsum(oh, axis=1)
    run = np.take_along_axis(csum, m[..., None], axis=2)[..., 0]
    return run.astype(np.float64) / (np.arange(1, L + 1)[None, :])


def subsequence_profile(r: Ragged, vocab: int, k: int, delta: float) -> np.ndarray:
    """Gap-weighted subsequence profile (ref Subsequence :4415-4474).

    out[i, g] = Σ over index combos i1<…<ik of row i whose tokens spell gram
    g of w(span), where span = ik−i1+1 and w = 1 if span == k (contiguous)
    else delta**span.

    Computed as a positional DP over weighted prefix-carry states — one pass
    over positions, O(L · vocab^k) batch-vectorized work — instead of the
    reference's O(C(L, k)) itertools.combinations enumeration.

    Carry state C_p[g'] after position j = Σ over valid length-p combos with
    last index ≤ j of delta^(j − i1 + 1); it decays by delta per position and
    extends by one token at matches.  Contiguous combos accumulate delta^k in
    the DP and are topped up to weight 1 via the plain k-gram counts.

    Combos containing a token ≥ vocab replicate the reference bug
    (`vector[0, None] += score` broadcasts the score to EVERY feature,
    :4443-4447): their total weight — an alphabet-collapsed twin DP minus the
    valid DP — is added to all columns.
    """
    n = r.n
    dim = vocab ** k
    if n == 0:
        return np.zeros((0, dim))
    L = int(r.lengths.max()) if len(r.lengths) else 0
    if L < k:
        return np.zeros((n, dim))
    # padded (n, L) matrix; sentinel `vocab` = gap/unknown token, and a
    # real-position mask distinguishes padding (no position at all)
    M = np.full((n, L), vocab, dtype=np.int64)
    rows = r.row_ids()
    cols = np.arange(len(r.flat)) - np.repeat(r.offsets[:-1], r.lengths)
    M[rows, cols] = np.minimum(r.flat, vocab)
    pos_real = np.arange(L)[None, :] < r.lengths[:, None]

    A = np.zeros((n, dim))          # Σ_j S_k(j): delta-weighted valid combos
    a_tot = np.zeros(n)             # same, over ALL combos (gap included)
    row_idx = np.arange(n)
    if k >= 2:
        C = [np.zeros((n, vocab ** p)) for p in range(1, k)]
        c = [np.zeros(n) for _ in range(1, k)]
        for j in range(L):
            t = M[:, j]
            real = pos_real[:, j]
            if not real.any():
                break
            tok_valid = real & (t < vocab)
            tc = np.where(tok_valid, t, 0)
            decay = np.where(real, delta, 1.0)
            # extensions use carries as of j-1: update levels top-down so
            # each level reads the not-yet-updated level below it
            extA = delta * C[k - 2]
            extA[~tok_valid] = 0.0
            idx = np.arange(vocab ** (k - 1))[None, :] * vocab + tc[:, None]
            A[row_idx[:, None], idx] += extA     # (row, col) pairs unique
            a_tot += np.where(real, delta * c[k - 2], 0.0)
            for p in range(k - 1, 1, -1):
                ext = delta * C[p - 2]
                ext[~tok_valid] = 0.0
                idxp = np.arange(vocab ** (p - 1))[None, :] * vocab + tc[:, None]
                C[p - 1] *= decay[:, None]
                C[p - 1][row_idx[:, None], idxp] += ext
                c[p - 1] = np.where(real, delta * (c[p - 1] + c[p - 2]), c[p - 1])
            C[0] *= decay[:, None]
            C[0][row_idx, tc] += np.where(tok_valid, delta, 0.0)
            c[0] = np.where(real, delta * c[0] + delta, c[0])
    # contiguous top-up: DP counted contiguous combos at delta^k, the
    # reference scores them 1.  For k == 1 every combo is contiguous and the
    # DP was skipped entirely, so the top-up carries the full weight.
    contig_valid = kgram_counts(r, vocab, k, normalize=False)
    n_contig_all = np.maximum(r.lengths - k + 1, 0).astype(np.float64)
    topup = 1.0 if k == 1 else 1.0 - delta ** k
    out = A + contig_valid * topup
    w_gap = (a_tot - A.sum(axis=1)) + (
        n_contig_all - contig_valid.sum(axis=1)) * topup
    return out + w_gap[:, None]

"""Property-based kernel tests: batch-vectorized kernels vs naive
per-sequence loops on random ragged batches (gaps, tiny rows, all-gap
rows, duplicate rows — shapes the 300-sequence goldens can't cover)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from ifeatureomega_cli_spark.functions.kernels import (
    Ragged, kgram_counts, kspaced_pair_counts, lag_den, lag_sums,
    positional_gram_ids, running_count_frequency, unigram_counts)

token_row = st.lists(st.integers(0, 20), min_size=0, max_size=40)
batches = st.lists(token_row, min_size=1, max_size=12)


def _ragged(rows):
    return Ragged.from_arrays(np.array([np.array(r, dtype=np.int64) for r in rows],
                                       dtype=object))


def _strip(row):
    return [t for t in row if t != 20]


@settings(max_examples=60, deadline=None)
@given(batches)
def test_unigram_counts_matches_naive(rows):
    r = _ragged(rows).strip(20)
    got = unigram_counts(r, 20, normalize=True)
    for i, row in enumerate(rows):
        s = _strip(row)
        exp = np.zeros(20)
        for t in s:
            exp[t] += 1
        if s:
            exp = exp / len(s)
        assert np.allclose(got[i], exp), (i, s)


@settings(max_examples=60, deadline=None)
@given(batches, st.integers(1, 3))
def test_kgram_counts_matches_naive(rows, k):
    r = _ragged(rows).strip(20)
    got = kgram_counts(r, 20, k, normalize=False)
    for i, row in enumerate(rows):
        s = _strip(row)
        exp = np.zeros(20**k)
        for j in range(len(s) - k + 1):
            g = 0
            for t in s[j: j + k]:
                g = g * 20 + t
            exp[g] += 1
        assert np.allclose(got[i], exp), (i, s, k)


@settings(max_examples=40, deadline=None)
@given(batches, st.integers(0, 3))
def test_kspaced_pairs_match_naive(rows, ks):
    r = _ragged(rows).strip(20)
    got = kspaced_pair_counts(r, 20, ks, normalize=False)
    for i, row in enumerate(rows):
        s = _strip(row)
        exp = []
        for g in range(ks + 1):
            block = np.zeros(400)
            for j in range(len(s)):
                j2 = j + g + 1
                if j2 < len(s):
                    block[s[j] * 20 + s[j2]] += 1
            exp.append(block)
        assert np.allclose(got[i], np.concatenate(exp)), (i, s, ks)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.integers(0, 4), min_size=2, max_size=12),
                min_size=1, max_size=8).filter(
                    lambda rs: len({len(r) for r in rs}) == 1))
def test_running_count_frequency_matches_naive(rows):
    m = np.array(rows)
    got = running_count_frequency(m)
    for i, row in enumerate(rows):
        for j in range(len(row)):
            exp = row[: j + 1].count(row[j]) / (j + 1)
            assert abs(got[i, j] - exp) < 1e-12


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(st.integers(0, 4), min_size=0, max_size=12),
                min_size=1, max_size=8),
       st.integers(1, 14))
def test_lag_sums_matches_naive(rows, nlag):
    """Every lag term vs per-row loops, on empty rows and nlag ≥ row length:
    two property series of the tokens, both cross orders, and a matrix."""
    rng = np.random.RandomState(3)
    T = rng.uniform(-3, 3, size=(2, 5))
    M = rng.uniform(-3, 3, size=(5, 5))
    r = _ragged(rows)
    xs = T[:, r.flat]
    got = lag_sums(r, nlag, xs=xs,
                   terms=("prod", "cprod", "sqdiff", "headsq", "ssq"),
                   cross=[(0, 1), (1, 0)], mats=[M])
    den = lag_den(r, nlag)
    for i, row in enumerate(rows):
        N = len(row)
        x = [T[p][row] for p in range(2)]
        m = [v.mean() if N else 0.0 for v in x]
        for p in range(2):
            assert abs(got["ssq"][p, i] - sum((v - m[p]) ** 2 for v in x[p])) < 1e-9
        for d in range(1, nlag + 1):
            js = range(N - d)
            assert den[i, d - 1] == max(N - d, 1)
            for p in range(2):
                a, c = x[p], m[p]
                exp = {
                    "prod": sum(a[j] * a[j + d] for j in js),
                    "cprod": sum((a[j] - c) * (a[j + d] - c) for j in js),
                    "sqdiff": sum((a[j] - a[j + d]) ** 2 for j in js),
                    "headsq": sum((a[j] - c) ** 2 for j in js),
                }
                for t, e in exp.items():
                    assert abs(got[t][p, i, d - 1] - e) < 1e-9, (t, p, row, d)
            for ci, (pa, pb) in enumerate([(0, 1), (1, 0)]):
                e = sum((x[pa][j] - m[pa]) * (x[pb][j + d] - m[pb]) for j in js)
                assert abs(got["cross"][ci, i, d - 1] - e) < 1e-9, (pa, pb, row, d)
            e = sum(M[row[j], row[j + d]] for j in js)
            assert abs(got["mat"][0, i, d - 1] - e) < 1e-9, (row, d)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 8).flatmap(
    lambda L: st.lists(st.lists(st.integers(0, 4), min_size=L, max_size=L),
                       min_size=1, max_size=6)),
       st.integers(1, 4))
def test_positional_gram_ids_matches_naive(rows, k):
    """Token 4 is the DNA gap: a gram holding it is not ok."""
    m = np.array(rows, dtype=np.int64).reshape(len(rows), -1)
    L = m.shape[1]
    ids, ok = positional_gram_ids(m, 4, k)
    assert ids.shape == ok.shape == (len(rows), max(L - k + 1, 0))
    for i, row in enumerate(rows):
        for j in range(L - k + 1):
            gram = row[j:j + k]
            assert ok[i, j] == all(t < 4 for t in gram), (row, j, k)
            if ok[i, j]:
                g = 0
                for t in gram:
                    g = g * 4 + t
                assert ids[i, j] == g, (row, j, k)


eq_batches = st.integers(2, 20).flatmap(
    lambda L: st.lists(st.lists(st.integers(0, 20), min_size=L, max_size=L),
                       min_size=1, max_size=8))


@settings(max_examples=40, deadline=None)
@given(eq_batches)
def test_positional_lookup_matches_naive(rows):
    from ifeatureomega_cli_spark.functions.kernels import positional_lookup

    rng = np.random.RandomState(0)
    table = rng.rand(21, 4)
    r = _ragged(rows)
    got = positional_lookup(r, table)
    for i, row in enumerate(rows):
        exp = np.concatenate([table[min(t, 20)] for t in row])
        assert np.allclose(got[i], exp)


@settings(max_examples=40, deadline=None)
@given(eq_batches, st.integers(1, 5))
def test_sliding_window_comp_matches_naive(rows, w):
    from ifeatureomega_cli_spark.functions.kernels import sliding_window_comp

    L = len(rows[0])
    if w > L:
        return
    r = _ragged(rows)
    got = sliding_window_comp(r, 20, w, denom="window")
    for i, row in enumerate(rows):
        exp = []
        for j in range(L - w + 1):
            win = row[j: j + w]
            for a in range(20):
                exp.append(win.count(a) / w)  # gap (20) counted in denom only
        assert np.allclose(got[i], exp), (i, row, w)


class TestSubsequenceDP:
    """Positional-DP subsequence profile vs brute-force enumeration."""

    @staticmethod
    def _brute(seq, vocab, k, delta):
        import itertools
        v = np.zeros(vocab ** k)
        for combo in itertools.combinations(range(len(seq)), k):
            toks = [seq[i] for i in combo]
            span = combo[-1] - combo[0] + 1
            score = 1.0 if span == k else delta ** span
            if any(t >= vocab for t in toks):
                v += score  # ref gap-kmer broadcast bug (:4443-4447)
            else:
                g = 0
                for t in toks:
                    g = g * vocab + t
                v[g] += score
        return v

    def test_matches_bruteforce_randomized(self):
        from ifeatureomega_cli_spark.functions.kernels import (
            Ragged, subsequence_profile)
        rng = np.random.RandomState(7)
        for trial in range(25):
            k = int(rng.choice([1, 2, 3, 4]))
            delta = float(rng.choice([0.0, 0.25, 0.5, 1.0]))
            seqs = [rng.randint(0, 5, size=rng.randint(k, 16)).tolist()
                    for _ in range(rng.randint(1, 5))]
            r = Ragged.from_arrays([np.array(s) for s in seqs])
            got = subsequence_profile(r, 4, k, delta)
            want = np.stack([self._brute(s, 4, k, delta) for s in seqs])
            assert np.allclose(got, want, rtol=1e-9, atol=1e-12), (k, delta)

    def test_long_sequence_batch_under_1s(self):
        import time
        from ifeatureomega_cli_spark.functions.kernels import (
            Ragged, subsequence_profile)
        rng = np.random.RandomState(0)
        r = Ragged.from_arrays([rng.randint(0, 4, size=1000) for _ in range(256)])
        t0 = time.time()
        out = subsequence_profile(r, 4, 3, 0.5)
        assert time.time() - t0 < 1.0
        assert out.shape == (256, 64) and np.isfinite(out).all()

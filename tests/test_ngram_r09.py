"""Round-9 tests for the redesigned ngram_jaccard_pairs.

Pin the facts the optimization relies on: (a) the vectorized shingler
segments words exactly like the per-doc Python path, (b) the broadcast
kernel and the distributed instance plan produce identical results (and
identical to the legacy string self-join), (c) the shingling UDF executes
exactly once per query (the round-8 8×-re-execution regression, now
pinned behaviorally via an accumulator instead of a plan string).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(11)
    vocab = ["w%d" % i for i in range(40)]
    rows = []
    for i in range(200):
        words = [vocab[rng.randint(len(vocab))] for _ in range(50)]
        rows.append((i, " ".join(words)))
    # clones and near-clones so pairs exist at threshold
    for j in range(20):
        rows.append((1000 + j, rows[j][1]))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_vectorized_shingler_matches_python(spark):
    import pyarrow as pa

    from ifeatureomega_cli_spark.operators.dedup import (
        _py_shingles, _word_hash_shingles)

    texts = [
        "a b c d e", "", "   ", "one two", "x  y   z w", "  lead trail  ",
        "a\tb\nc d", "A B C a b c", "same same same same",
        None, "single", "ä Ö ü ä ö Ü zz",
    ]
    arr = pa.array(texts, type=pa.string())
    for n in (1, 2, 3):
        flat, counts = _word_hash_shingles(arr, n)
        offs = np.concatenate(([0], np.cumsum(counts)))
        for i, t in enumerate(texts):
            expect = _py_shingles(t or "", n)
            got = flat[offs[i]:offs[i + 1]]
            assert len(got) == len(expect), (n, i, t)
            assert len(np.unique(got)) == len(got)  # per-row set semantics


@pytest.fixture(scope="module")
def boundary_corpus(spark):
    """Every doc holds 12 distinct word trigrams; docs 2i and 2i+1 share a
    6-word run, i.e. 4 trigrams, so their jaccard is 4/(12+12−4) = 0.2
    exactly — the pairs sit ON a 0.2 threshold."""
    rows = []
    for i in range(8):
        head = [f"s{i}x{j}" for j in range(6)]
        rows.append((2 * i, " ".join(head + [f"a{i}x{j}" for j in range(8)])))
        rows.append((2 * i + 1, " ".join(head + [f"b{i}x{j}" for j in range(8)])))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_broadcast_and_instance_plans_identical(spark, corpus, boundary_corpus,
                                                monkeypatch):
    from ifeatureomega_cli_spark.operators import dedup as D

    def run(df, t):
        return (D.ngram_jaccard_pairs(df, shingle_n=3, threshold=t)
                .select("id_a", "id_b", F.round("jaccard", 6).alias("j"))
                .sort("id_a", "id_b").collect())

    cap = D._NGRAM_BCAST_MAX_DOCS
    for df, t in ((corpus, 0.3), (boundary_corpus, 0.2)):
        monkeypatch.setattr(D, "_NGRAM_BCAST_MAX_DOCS", cap)
        bcast = run(df, t)                  # default: broadcast kernel
        monkeypatch.setattr(D, "_NGRAM_BCAST_MAX_DOCS", 0)
        inst = run(df, t)                   # forced: distributed instance plan
        legacy = (D._ngram_jaccard_pairs_strjoin(
            df, "text", "doc_id", 3, t, 200, True)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("j"))
            .sort("id_a", "id_b").collect())
        assert len(bcast) > 0
        assert bcast == inst == legacy, t
    assert [(r.id_a, r.id_b, r.j) for r in bcast] == [
        (2 * i, 2 * i + 1, 0.2) for i in range(8)]


def test_min_shared_bound_is_exact():
    """The instance plan's n_inter pre-filter is the least integer k whose
    k / (2n − k) passes the final double filter, on the whole grid
    t = 0.01…0.99, n = 1…199 (the rounded-float closed form overshoots on
    115 of these points)."""
    from ifeatureomega_cli_spark.operators.dedup import _min_shared

    for ti in range(1, 100):
        t = ti / 100
        for n in range(1, 200):
            k = _min_shared(t, n)
            assert 1 <= k <= n, (t, n, k)
            assert k / (2 * n - k) >= t, (t, n, k)   # two min-size docs pass
            assert all(j / (2 * n - j) < t for j in range(1, k)), (t, n, k)
    assert _min_shared(0.2, 12) == 4
    assert _min_shared(0.5, 0) == 1   # no shingles anywhere: trivial bound


def test_instance_plan_unpacked_ids(spark, corpus, monkeypatch):
    """Negative / >2^31 ids disable int64 pair packing; results must not
    change (two-column aggregation branch)."""
    from ifeatureomega_cli_spark.operators import dedup as D

    monkeypatch.setattr(D, "_NGRAM_BCAST_MAX_DOCS", 0)
    shifted = corpus.withColumn("doc_id", F.col("doc_id") + (1 << 33))
    got = (D.ngram_jaccard_pairs(shifted, shingle_n=3, threshold=0.3)
           .select((F.col("id_a") - (1 << 33)).alias("id_a"),
                   (F.col("id_b") - (1 << 33)).alias("id_b"),
                   F.round("jaccard", 6).alias("j"))
           .sort("id_a", "id_b").collect())
    base = (D.ngram_jaccard_pairs(corpus, shingle_n=3, threshold=0.3)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("j"))
            .sort("id_a", "id_b").collect())
    assert got == base


def test_shingle_udf_runs_once(spark, corpus):
    """The persisted per-doc array table must make the shingling UDF run
    exactly once per query execution (round-8 found it running 8×)."""
    from ifeatureomega_cli_spark.operators import dedup as D

    acc = spark.sparkContext.accumulator(0)
    n_docs = corpus.count()
    D.ngram_jaccard_pairs(corpus, shingle_n=3, threshold=0.3,
                          _shingle_counter=acc).count()
    assert acc.value == n_docs, (
        f"shingle UDF processed {acc.value} rows for {n_docs} docs — "
        "re-execution regression")

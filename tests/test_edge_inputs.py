"""Degenerate-input robustness: empty tables, single rows, all-NaN columns.

Operators must fail loudly where the semantics are undefined (KNN with no
training rows) and degrade gracefully everywhere else — no crashes on the
empty partitions that ALWAYS occur somewhere in a 100 TB job.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_dedup_family_empty_input(spark):
    from ifeatureomega_cli_spark.operators.dedup import (
        exact_dedup, minhash_dedup, ngram_jaccard_pairs, simhash_dup_pairs)

    e = _empty_docs(spark)
    assert exact_dedup(e).count() == 0
    assert minhash_dedup(e).count() == 0
    assert ngram_jaccard_pairs(e).count() == 0
    assert simhash_dup_pairs(e).count() == 0


def test_embedding_dup_exact_single_row(spark):
    from ifeatureomega_cli_spark.operators.dedup import embedding_dup_pairs_exact

    df = spark.createDataFrame([(1, [1.0, 0.0])],
                               "vec_id long, embedding array<double>")
    assert embedding_dup_pairs_exact(df, threshold=0.0).count() == 0


def test_knn_distributed_no_training_raises(spark):
    from ifeatureomega_cli_spark.operators.crosssample import (
        knn_features_distributed)

    df = spark.createDataFrame(
        [("a", [0, 1, 2], "1", "testing")],
        "doc_id string, tokens array<int>, label string, purpose string")
    with pytest.raises(ValueError, match="no training rows"):
        knn_features_distributed(df, "protein")


def test_subsequence_short_rows(spark):
    """Rows shorter than k yield all-zero vectors, not crashes."""
    from ifeatureomega_cli_spark.functions.kernels import (
        Ragged, subsequence_profile)

    r = Ragged.from_arrays([np.array([1]), np.array([], dtype=np.int64),
                            np.array([0, 1, 2, 3])])
    out = subsequence_profile(r, 4, 3, 0.5)
    assert out.shape == (3, 64)
    assert (out[0] == 0).all() and (out[1] == 0).all() and out[2].sum() > 0


@pytest.mark.parametrize("seq_type", ["dna", "rna"])
@pytest.mark.parametrize("name", ["Moran", "Geary", "NMBroto"])
def test_nucleotide_autocorr_rows_without_pairs(seq_type, name):
    """0-, 1- and 2-nt rows and all-gap rows hold no lag pair: their
    autocorrelations are 0, never NaN (the reference catches the /0 and
    writes 0; Moran used to divide 0 by N = 0)."""
    from ifeatureomega_cli_spark.functions.kernels import Ragged
    from ifeatureomega_cli_spark.functions.registry import get_spec

    gap = 4
    rows = [[], [0], [2, 3], [gap, gap, gap], [1, gap, 2], [0, 1, 2, 3] * 5]
    r = Ragged.from_arrays([np.array(x, dtype=np.int64) for x in rows])
    out = get_spec(f"{seq_type}:{name}").kernel()(r)
    assert out.shape == (len(rows), 18)
    assert np.isfinite(out).all()
    assert (out[:5] == 0).all()
    assert (out[5] != 0).any()


def test_impute_mean_all_nan_column_stays_nan(spark):
    """A fully-NaN column has no mean — the reference leaves it NaN
    (np.mean of empty slice); so do we."""
    from ifeatureomega_cli_spark.analysis import impute_mean

    rows = [(i, [float(i), float("nan")]) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, features array<double>")
    got = np.array(impute_mean(df).sort("doc_id").select("features")
                   .toPandas()["features"].tolist())
    assert not np.isnan(got[:, 0]).any()
    assert np.isnan(got[:, 1]).all()


def test_clusterers_tiny_input(spark):
    from ifeatureomega_cli_spark.analysis import agglomerative, dbscan, kmeans

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [9.0, 9.0])],
        "doc_id long, features array<double>")
    assert kmeans(df, 2).select("cluster").distinct().count() <= 2
    lab = (agglomerative(df, n_clusters=2).sort("doc_id")
           .select("cluster").toPandas()["cluster"].to_numpy())
    assert lab[0] == lab[1] != lab[2]
    # 3 points < min_samples → everything is noise
    assert (dbscan(df, eps=0.5, min_samples=5).select("cluster")
            .toPandas()["cluster"] == -1).all()


def test_streaming_dedup_empty_batch(spark, tmp_path):
    from ifeatureomega_cli_spark.streaming.dedup_stream import (
        streaming_exact_dedup)

    src = _empty_docs(spark)
    in_dir = str(tmp_path / "in")
    src.write.parquet(in_dir)
    stream = spark.readStream.schema(src.schema).parquet(in_dir)
    q = (streaming_exact_dedup(stream).writeStream.format("memory")
         .queryName("edge_dedup").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    assert spark.sql("select * from edge_dedup").count() == 0


def test_analysis_ops_empty_input(spark):
    from ifeatureomega_cli_spark.analysis import (
        agglomerative, impute_mean, lda_reduce, minmax_ref, tsne, zscore_ref)

    e = spark.createDataFrame([], "doc_id long, features array<double>")
    assert impute_mean(e).count() == 0
    assert zscore_ref(e).count() == 0
    assert minmax_ref(e).count() == 0
    assert agglomerative(e, 2).count() == 0
    assert tsne(e).count() == 0
    assert lda_reduce(e).count() == 0


def test_ivf_empty_queries(spark):
    from ifeatureomega_cli_spark.operators.similarity import (
        ivf_assign, ivf_topk, train_ivf_centroids)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_cells=4, sample=256)
    corpus = ivf_assign(emb, cents)
    empty_q = spark.createDataFrame([], "query_id long, embedding array<double>")
    assert ivf_topk(corpus, empty_q, cents, k=5).count() == 0


def test_knn_distributed_zero_candidate_query_gets_zero_votes(spark):
    """The only training row queried against itself: self-exclusion leaves
    no candidates — features must be all-zero (broadcast-kernel parity),
    not NULL."""
    from ifeatureomega_cli_spark.operators.crosssample import (
        knn_features, knn_features_distributed)

    df = spark.createDataFrame(
        [("only", [0, 1, 2, 3], "1", "training")],
        "doc_id string, tokens array<int>, label string, purpose string")
    d = knn_features_distributed(df, "protein").select("features").head()[0]
    b = knn_features(df, "protein").select("features").head()[0]
    assert d is not None and list(d) == list(b)
    assert all(v == 0.0 for v in d)


def test_salt_id_cols_spreads_duplicates(spark):
    """Content-hash salting collapses identical rows; id_cols restores the
    spread (and stays retry-deterministic)."""
    from ifeatureomega_cli_spark.plans.partitioning import salt, two_phase_count

    rows = [(i, "hot", "same-payload") for i in range(512)]
    df = spark.createDataFrame(rows, "event_id long, key string, payload string")
    no_id = salt(df.select("key", "payload"), "key", n_salts=16)
    assert no_id.select("salt").distinct().count() == 1  # documented collapse
    with_id = salt(df, "key", n_salts=16, id_cols=["event_id"])
    assert with_id.select("salt").distinct().count() > 8
    out = two_phase_count(df, "key", id_cols=["event_id"]).collect()
    assert out[0]["count"] == 512


def test_extract_many_duplicate_out_names_rejected(spark):
    """ADVICE r4: 'protein:AAC' and 'dna:AAC' both normalize to column
    'AAC'; the fused struct would silently keep only the last kernel's
    values.  extract_many must refuse up front."""
    import pytest

    from ifeatureomega_cli_spark.functions.extract import extract_many

    df = spark.createDataFrame([(0, ["A", "C"], 2)],
                               "doc_id long, tokens array<string>, n_tok int")
    with pytest.raises(ValueError, match="duplicate output column"):
        extract_many(df, ["protein:ASDC", "dna:ASDC"])
    # distinct normalized names still fine
    out = extract_many(df, ["protein:AAC", "protein:GAAC"])
    assert {"AAC", "GAAC"} <= set(out.columns)


def _aac(r):
    from ifeatureomega_cli_spark.functions.registry import get_spec

    return get_spec("protein:AAC").kernel(None, 0)(r)


def _with_null_spans(rows, filler):
    """Offsets, flat values and validity for `rows` where every null row
    still spans `filler` values — Arrow allows it, and the decoders must
    drop them, not hand them to the next row."""
    lens = [len(filler) if r is None else len(r) for r in rows]
    offsets = np.concatenate(([0], np.cumsum(lens)))
    flat = [v for r in rows for v in (filler if r is None else r)]
    return offsets, flat, [r is not None for r in rows]


def test_token_decoder_sliced_batch_with_nulls():
    """Ragged.from_arrow on a sliced list batch whose null rows span
    values: each null row is an empty row and every other row keeps
    exactly its own tokens."""
    import pyarrow as pa

    from ifeatureomega_cli_spark.functions.kernels import Ragged

    rows = [[0, 1, 2], None, [3, 3], [], None, [4, 5, 6, 7], [8], None]
    offsets, flat, valid = _with_null_spans(rows, [19, 18])
    mask = pa.array([not v for v in valid])
    arrays = (
        pa.array(rows, pa.list_(pa.int64())),
        pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                 pa.array(flat, pa.int64()), mask=mask),
        pa.LargeListArray.from_arrays(pa.array(offsets),
                                      pa.array(flat, pa.int32()), mask=mask),
    )
    for arr in arrays:
        for start, stop in ((0, 8), (1, 7), (2, 6), (4, 5), (3, 3)):
            part = rows[start:stop]
            r = Ragged.from_arrow(arr.slice(start, stop - start))
            exp = [x or [] for x in part]
            assert r.n == len(part)
            assert r.lengths.tolist() == [len(x) for x in exp]
            assert r.flat.tolist() == [t for x in exp for t in x]
            assert r.flat.dtype == np.int64


def test_text_decoder_sliced_batch_with_nulls_and_large_string():
    """_tokens_from_strings on string and large_string batches, sliced,
    with null rows (spanning bytes or not) and empty batches: same tokens
    as a per-row reference, and a large_string column gives the same
    vectors as a string column."""
    import pyarrow as pa

    from ifeatureomega_cli_spark.functions.text_descriptors import (
        _LUT256, _tokens_from_strings)

    rows = ["ACDx-y", None, "", "mkwéQQ", None, "GGGG", "zz", None]
    enc = [None if s is None else list(s.encode()) for s in rows]
    offsets, flat, valid = _with_null_spans(enc, list(b"KKR"))
    validity = pa.array(valid).buffers()[1]

    def ref(s):
        t = _LUT256[np.frombuffer(s.encode(), np.uint8)] if s else []
        return [int(x) for x in t if x >= 0]

    def spanning(typ, otype):
        return pa.Array.from_buffers(typ, len(rows), [
            validity, pa.py_buffer(offsets.astype(otype).tobytes()),
            pa.py_buffer(bytes(flat))])

    arrays = {pa.string(): [pa.array(rows, pa.string()),
                            spanning(pa.string(), np.int32)],
              pa.large_string(): [pa.array(rows, pa.large_string()),
                                  spanning(pa.large_string(), np.int64)]}
    for start, stop in ((0, 8), (1, 7), (2, 6), (4, 5), (3, 3)):
        part = rows[start:stop]
        exp = [ref(s) for s in part]
        vecs = {}
        for typ, arrs in arrays.items():
            for arr in arrs:
                r = _tokens_from_strings(arr.slice(start, stop - start))
                assert r.lengths.tolist() == [len(x) for x in exp], typ
                assert r.flat.tolist() == [t for x in exp for t in x], typ
                vecs[typ] = _aac(r)
        assert vecs[pa.string()].shape == (len(part), 20)
        assert np.array_equal(vecs[pa.string()], vecs[pa.large_string()])
    # a zero-length array may carry no offsets buffer
    assert _tokens_from_strings(pa.Array.from_buffers(
        pa.string(), 0, [None, None, pa.py_buffer(b"")])).n == 0
    assert _tokens_from_strings(pa.array([], pa.large_string())).n == 0
    assert _tokens_from_strings(
        pa.chunked_array([pa.array(rows[:3]), pa.array(rows[3:])])
    ).n == len(rows)


def test_null_rows_give_zero_vectors_through_spark(spark):
    """A null tokens row and a null text row come out as all-zero vectors,
    with the large_string Arrow transfer on and off."""
    from ifeatureomega_cli_spark.functions.extract import extract
    from ifeatureomega_cli_spark.functions.text_descriptors import (
        char_descriptor)

    toks = spark.createDataFrame(
        [(0, [0, 1, 1]), (1, None), (2, [19])],
        "doc_id long, tokens array<bigint>")
    got = {r["doc_id"]: r["features"] for r in
           extract(toks, "protein:AAC").collect()}
    assert got[1] == [0.0] * 20
    assert got[0][1] == pytest.approx(2 / 3) and got[2][19] == 1.0
    texts = spark.createDataFrame(
        [(0, "ACC"), (1, None), (2, "xz-")], "doc_id long, text string")
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    prev = spark.conf.get(key, "false")
    outs = []
    try:
        for flag in ("false", "true"):
            spark.conf.set(key, flag)
            outs.append({r["doc_id"]: r["features"] for r in
                         char_descriptor(texts, "protein:AAC").collect()})
    finally:
        spark.conf.set(key, prev)
    assert outs[0] == outs[1]
    assert outs[0][1] == [0.0] * 20 == outs[0][2]
    assert outs[0][0] == got[0]

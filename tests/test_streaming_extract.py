"""Streaming descriptor extraction: the same kernel UDF over readStream
must produce identical features to the batch path."""

from __future__ import annotations

import os

import numpy as np

from tests.conftest import FIXDIR


def test_streaming_extract_matches_batch(spark, tmp_path):
    from ifeatureomega_cli_spark.functions.extract import extract
    from ifeatureomega_cli_spark.streaming.sessions import streaming_extract

    src = spark.read.parquet(os.path.join(FIXDIR, "peptide_tokens.parquet"))
    in_dir = str(tmp_path / "stream_in")
    src.write.parquet(in_dir)

    stream = spark.readStream.schema(src.schema).parquet(in_dir)
    out = streaming_extract(stream.select("doc_id", "tokens"), "protein:AAC")
    q = (out.writeStream.format("memory").queryName("feat_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select doc_id, features from feat_stream").toPandas()

    exp = extract(src, "protein:AAC").select("doc_id", "features").toPandas()
    g = got.set_index("doc_id").loc[exp["doc_id"]]
    assert len(got) == len(exp) == 300
    assert np.allclose(np.array(g["features"].tolist()),
                       np.array(exp["features"].tolist()))


def test_streaming_extract_equal_length_needs_length(spark, tmp_path):
    """An equal-length descriptor on a stream must be given `length`: the
    width cannot be discovered per micro-batch."""
    import pytest

    from ifeatureomega_cli_spark.functions.extract import feature_names
    from ifeatureomega_cli_spark.streaming.sessions import streaming_extract

    src = spark.read.parquet(os.path.join(FIXDIR, "peptide_tokens.parquet"))
    in_dir = str(tmp_path / "stream_in")
    src.select("doc_id", "tokens").write.parquet(in_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema).parquet(in_dir)
    with pytest.raises(ValueError, match="length"):
        streaming_extract(stream, "protein:binary")
    out = streaming_extract(stream, "protein:binary", length=31)
    q = (out.writeStream.format("memory").queryName("feat_binary")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    widths = {len(r["features"]) for r in
              spark.sql("select features from feat_binary").collect()}
    assert widths == {len(feature_names("protein:binary", length=31))}


def test_streaming_asof_enrich_matches_batch(spark, tmp_path):
    """Streaming point-in-time enrichment (SCD2 stream-static range join)
    must reproduce the batch as-of join byte-identically on closed input —
    the north-rule zero-leakage property on a live stream."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ifeatureomega_cli_spark.operators.asof import asof_join
    from ifeatureomega_cli_spark.streaming.enrich import (
        streaming_asof_enrich, to_scd2)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value")
    # dedup equal (user, ts) right rows so batch/stream tie rules coincide
    purchases = purchases.dropDuplicates(["user_id", "ts"]).cache()

    batch = asof_join(clicks, purchases, on="user_id", ts="ts",
                      value_cols=["value"]).toPandas()

    scd2 = to_scd2(purchases, on="user_id", ts="ts")
    src = str(tmp_path / "clicks_in")
    clicks.write.parquet(src)
    stream = spark.readStream.schema(clicks.schema).parquet(src)
    out = streaming_asof_enrich(stream, scd2, on="user_id", ts="ts")
    q = (out.writeStream.format("memory").queryName("enrich_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from enrich_out").toPandas()

    key = ["event_id"]
    b = batch.sort_values(key).reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)
    assert len(b) == len(g) and len(b) > 100
    assert (b["event_id"].to_numpy() == g["event_id"].to_numpy()).all()
    pd.testing.assert_series_equal(
        b["value"], g["value"], check_names=False)
    bm = b["matched_ts"].astype("datetime64[us]")
    gm = g["matched_ts"].astype("datetime64[us]")
    assert ((bm == gm) | (bm.isna() & gm.isna())).all()


def test_streaming_asof_tolerance_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from ifeatureomega_cli_spark.operators.asof import asof_join
    from ifeatureomega_cli_spark.streaming.enrich import (
        streaming_asof_enrich, to_scd2)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts", "value")
                 .dropDuplicates(["user_id", "ts"]).cache())
    batch = asof_join(clicks, purchases, on="user_id", ts="ts",
                      value_cols=["value"], tolerance_seconds=3600).toPandas()
    scd2 = to_scd2(purchases, on="user_id", ts="ts")
    src = str(tmp_path / "clicks_tol")
    clicks.write.parquet(src)
    stream = spark.readStream.schema(clicks.schema).parquet(src)
    out = streaming_asof_enrich(stream, scd2, on="user_id", ts="ts",
                                tolerance_seconds=3600)
    q = (out.writeStream.format("memory").queryName("enrich_tol")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_tol"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from enrich_tol").toPandas()
    b = batch.sort_values("event_id").reset_index(drop=True)
    g = got.sort_values("event_id").reset_index(drop=True)
    assert len(b) == len(g)
    import pandas as pd
    pd.testing.assert_series_equal(b["value"], g["value"], check_names=False)

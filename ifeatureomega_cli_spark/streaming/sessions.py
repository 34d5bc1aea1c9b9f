"""Structured Streaming operators: incremental sessionization and
incremental descriptor extraction.

`streaming_session_stats` is the streaming twin of
operators.sessionize.session_stats: `F.session_window(ts, gap)` + watermark
handles late data; results match the batch operator on closed sessions.

`streaming_extract` shows the incremental recompute path for descriptor
features: readStream over a tokenized table, the same Arrow-vectorized
kernel UDF, append-mode sink — the kernel code is identical to batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_session_stats(
    events: DataFrame,
    gap_seconds: float,
    on: str = "user_id",
    ts: str = "ts",
    value: str | None = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Windowed session aggregation with watermark for late data."""
    gap = f"{int(gap_seconds)} seconds"
    # event-time ops require TIMESTAMP (LTZ); promote NTZ inputs
    if dict(events.dtypes).get(ts) == "timestamp_ntz":
        events = events.withColumn(ts, F.col(ts).cast("timestamp"))
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value is not None:
        aggs.append(F.sum(value).alias("sum_value"))
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("session"), F.col(on))
        .agg(*aggs)
        .select(
            F.col(on),
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            *(["n_events"] + (["sum_value"] if value is not None else [])),
        )
    )


def streaming_extract(stream_df: DataFrame, descriptor: str,
                      length: int = 0) -> DataFrame:
    """Apply a descriptor kernel to a token stream (append mode).

    An equal-length descriptor needs `length`: a stream cannot run the
    batch path's `max(n_tok)` discovery job, and without it the kernel's
    output width would follow each micro-batch."""
    from ifeatureomega_cli_spark.functions.extract import extract
    from ifeatureomega_cli_spark.functions.registry import get_spec

    if get_spec(descriptor).equal_length and not length:
        raise ValueError(
            f"{descriptor!r} is an equal-length descriptor: pass length= "
            "(the fixed token count) to stream it")
    return extract(stream_df, descriptor, length=length)

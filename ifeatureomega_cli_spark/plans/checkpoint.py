"""Checkpoint/resume with per-partition lineage + metrics (north_rule).

A run processes the source in `n_buckets` hash buckets of the entity key.
Completed buckets are recorded in a manifest (parquet, append-only) with
row counts and throughput; a resumed run recomputes ONLY missing buckets.
Output is written partitioned by bucket, so a re-run overwrites a bucket
idempotently (dynamic partition overwrite) — no double counting.

This is the parquet-dir analogue of Iceberg snapshot checkpointing: on a
real cluster, point `out_dir` at an Iceberg table and the manifest becomes
`snapshot-id` bookkeeping for free — the exact read-back path
(`load_table(..., snapshot_id=...)` time travel) is exercised by
tests/test_cli_tables.py::test_iceberg_roundtrip_and_time_travel, which
runs automatically wherever the Iceberg runtime jar is on the classpath.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ifeatureomega_cli_spark.plans.partitioning import bucket_by


class CheckpointedRun:
    def __init__(self, spark: SparkSession, out_dir: str, n_buckets: int = 16,
                 key: str = "doc_id", waves: int = 4):
        self.spark = spark
        self.out_dir = out_dir
        self.data_dir = os.path.join(out_dir, "data")
        self.manifest_dir = os.path.join(out_dir, "manifest")
        self.n_buckets = n_buckets
        self.key = key
        self.waves = waves

    # -- lineage --------------------------------------------------------

    def completed_buckets(self) -> set[int]:
        if not os.path.isdir(self.manifest_dir):
            return set()
        try:
            m = self.spark.read.parquet(self.manifest_dir)
        except Exception:
            return set()
        return {r["bucket"] for r in m.select("bucket").distinct().collect()}

    def _record(self, rows: list[dict]) -> None:
        if not rows:
            return
        self.spark.createDataFrame(
            [(r["bucket"], r["n_rows"], r["seconds"], r["rows_per_sec"],
              r["run_id"], r["finished_at"]) for r in rows],
            "bucket int, n_rows long, seconds double, rows_per_sec double, "
            "run_id string, finished_at double",
        ).write.mode("append").parquet(self.manifest_dir)

    # -- execution ------------------------------------------------------

    def run(self, source: DataFrame,
            transform: Callable[[DataFrame], DataFrame]) -> dict:
        """Process pending buckets in `waves` batches; returns run metrics.

        Each wave filters the source to its buckets (predicate reaches the
        scan), applies `transform`, writes partitioned by bucket."""
        run_id = uuid.uuid4().hex[:12]
        done = self.completed_buckets()
        pending = [b for b in range(self.n_buckets) if b not in done]
        bucketed = bucket_by(source, self.key, self.n_buckets)
        total_rows = 0
        t_all = time.time()
        step = max(1, len(pending) // self.waves)
        for w in range(0, len(pending), step):
            wave = pending[w: w + step]
            t0 = time.time()
            part = bucketed.filter(F.col("bucket").isin(wave))
            # re-derive the bucket from the key (a map-side projection, no
            # shuffle) whether or not the transform kept the column
            out = bucket_by(transform(part), self.key, self.n_buckets)
            # per-write dynamic overwrite (only the wave's bucket partitions
            # are replaced) — set on the writer, NOT the shared session conf,
            # so unrelated writes in the session keep their own semantics
            (out.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(self.data_dir))
            per_bucket = {
                r["bucket"]: r["n"]
                for r in self.spark.read.parquet(self.data_dir)
                .filter(F.col("bucket").isin(wave))
                .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            dt = time.time() - t0
            n = sum(per_bucket.values())
            self._record([
                {"bucket": int(b), "n_rows": int(per_bucket.get(b, 0)),
                 "seconds": dt, "rows_per_sec": n / dt if dt > 0 else 0.0,
                 "run_id": run_id, "finished_at": time.time()}
                for b in wave
            ])
            total_rows += n
        dt_all = time.time() - t_all
        return {
            "run_id": run_id,
            "buckets_processed": len(pending),
            "buckets_skipped": len(done),
            "rows": total_rows,
            "seconds": dt_all,
            "rows_per_sec": total_rows / dt_all if dt_all > 0 else 0.0,
        }

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.data_dir)


def emit_metrics(path: str, metrics: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(metrics) + "\n")

"""The benchmark's three workloads, written against the package's public API.

Each workload owns its inputs (made by `gen` from the seed), one timed
`run_pass`, a cheap `check_pass` run after every pass, a `deep_check`
against in-process oracles run once, and the cumulative `prefixes` the
traced run times layer by layer.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from ifeatureomega_cli_spark import (asof_join, extract_many, lag_lead,
                                     sessionize)
from ifeatureomega_cli_spark.functions.kernels import Ragged
from ifeatureomega_cli_spark.functions.registry import get_spec
from ifeatureomega_cli_spark.operators.dedup import (
    _word_hash_shingles, dedup_components, minhash_dedup,
    minhash_lsh_candidates, minhash_signatures, near_dedup,
    ngram_jaccard_pairs, release_caches)
from ifeatureomega_cli_spark.plans.checkpoint import CheckpointedRun
from ifeatureomega_cli_spark.plans.partitioning import bucket_by

FUSED = ["protein:AAC", "protein:DPC type 1", "protein:CKSAAP type 1",
         "protein:GAAC", "protein:CTDC", "protein:CTDT", "protein:CTDD",
         "protein:PAAC"]
PIT_DESCS = ["protein:AAC", "protein:CTDC", "protein:CTDD"]
BATCH = 2048            # session.py's arrow maxRecordsPerBatch default

SIZES = {
    "full": {"descriptor_scan": 16_000, "pit_features": 2_000,
             "near_dedup": 2_000},
    "tiny": {"descriptor_scan": 600, "pit_features": 150, "near_dedup": 400},
}


def out_name(desc: str) -> str:
    return desc.split(":", 1)[1].replace(" ", "_")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity_udf(dtype):
    """An Arrow UDF that returns its input: one JVM→Python→JVM round trip
    of the column with no compute."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(dtype)
    def _identity(x: pa.Array) -> pa.Array:
        return x

    return _identity


def spawn_udf():
    """An Arrow UDF whose first call in each Python worker imports the
    package: a job through it spawns and warms every worker."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import LongType

    @arrow_udf(LongType())
    def _touch(x: pa.Array) -> pa.Array:
        import ifeatureomega_cli_spark.functions.extract  # noqa: F401
        return x

    return _touch


def kernel_rows(descs: list[str], tokens: pa.Array) -> list[np.ndarray]:
    """In-process descriptor vectors for an Arrow list<int> column."""
    r = Ragged.from_arrow(tokens)
    return [get_spec(d).kernel(None, 0)(r) for d in descs]


def kernel_probe(descs: list[str], tokens: pa.Array) -> dict[str, float]:
    """Single-core seconds per descriptor over `tokens` split into
    BATCH-row Arrow batches, the shape each UDF call sees."""
    kerns = {d: get_spec(d).kernel(None, 0) for d in descs}
    batches = [tokens.slice(i, BATCH) for i in range(0, len(tokens), BATCH)]
    for k in kerns.values():                  # warm lookups and allocator
        k(Ragged.from_arrow(batches[0]))
    out = {}
    for d, k in kerns.items():
        t0 = time.perf_counter()
        for b in batches:
            k(Ragged.from_arrow(b))
        out[d] = time.perf_counter() - t0
    return out


class Workload:
    name = ""
    steady_passes = 6       # untraced passes after the first, median taken

    def __init__(self, work: str, seed: int, size: str):
        self.seed = seed
        self.n = SIZES[size][self.name]
        self.dir = os.path.join(work, "inputs", f"{self.name}-{self.n}-{seed}")
        self.out = os.path.join(work, "out", self.name)
        self.failures: list[str] = []
        self.ref = None

    # -- inputs ---------------------------------------------------------

    def generate(self) -> dict[str, str]:
        """Make (or reuse) the inputs; return {input: sha256}."""
        meta = os.path.join(self.dir, "digests.json")
        if os.path.exists(meta):
            with open(meta) as f:
                return json.load(f)
        os.makedirs(self.dir, exist_ok=True)
        digests = self._generate()
        with open(meta + ".tmp", "w") as f:
            json.dump(digests, f)
        os.replace(meta + ".tmp", meta)
        return digests

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def input_bytes(self) -> int:
        return sum(e.stat().st_size for name in os.listdir(self.dir)
                   if os.path.isdir(self.path(name))
                   for e in os.scandir(self.path(name)))

    def release(self, spark) -> None:
        spark.catalog.clearCache()

    def _fail(self, msg: str) -> None:
        self.failures.append(msg)


class DescriptorScan(Workload):
    """One fused `extract_many` pass of the 8 bench descriptors into noop."""

    name = "descriptor_scan"

    def _generate(self):
        return {"f1": gen.sequences(self.seed, self.n, self.path("f1"))}

    def _df(self, spark, files: list[str] | None = None):
        return spark.read.parquet(*(files or [self.path("f1")]))

    def run_pass(self, spark, files: list[str] | None = None) -> dict:
        noop(extract_many(self._df(spark, files), FUSED))
        return {"rows": self.n, "vectors": self.n * len(FUSED)}

    def check_pass(self, spark, res, stages) -> list[str]:
        if stages["input_records"] != self.n:
            return [f"pass read {stages['input_records']} rows, "
                    f"expected {self.n}"]
        return []

    def deep_check(self, spark, res) -> dict:
        rng = np.random.default_rng(self.seed)
        ids = sorted(f"D{i:08d}" for i in rng.choice(self.n, 48, replace=False))
        outs = [out_name(d) for d in FUSED]
        got = {r["doc_id"]: r for r in extract_many(
            self._df(spark).filter(F.col("doc_id").isin(ids)), FUSED)
            .select("doc_id", *outs).collect()}
        tab = pq.read_table(self.path("f1"), columns=["doc_id", "tokens"],
                            filters=[("doc_id", "in", ids)])
        want = kernel_rows(FUSED, tab.column("tokens").combine_chunks())
        bad = 0
        for i, doc in enumerate(tab.column("doc_id").to_pylist()):
            row = got.get(doc)
            if row is None or not all(
                    np.allclose(np.asarray(row[o]), want[k][i], rtol=1e-9,
                                atol=1e-12) for k, o in enumerate(outs)):
                bad += 1
        if len(got) != len(ids) or bad:
            self._fail(f"{bad} of {len(ids)} sampled rows differ from the "
                       f"in-process kernels ({len(got)} returned)")
        return {"sampled_rows": len(ids), "mismatched_rows": bad}

    def own_kernel_tokens(self, spark) -> int:
        return int(pq.read_table(self.path("f1"), columns=["n_tok"])
                   .column("n_tok").to_numpy().sum())

    def boundary(self, spark):
        df = self._df(spark)
        return (lambda: noop(df.select("doc_id", "tokens")),
                lambda: noop(df.select(
                    "doc_id", identity_udf(df.schema["tokens"].dataType)(
                        "tokens").alias("t"))))

    def prefixes(self, spark) -> list[tuple[str, callable]]:
        df = self._df(spark)
        scan, ident = self.boundary(spark)
        feats = extract_many(df, FUSED)
        return [
            ("scan", scan),
            ("extract.boundary", ident),
            ("kernel", lambda: noop(feats.select(
                "doc_id", F.size(out_name(FUSED[0]))))),
            ("extract.output", lambda: self.run_pass(spark)),
        ]

    def scaling_files(self, k: int) -> list[str]:
        files = sorted(os.listdir(self.path("f1")))[:k]
        return [os.path.join(self.path("f1"), f) for f in files]

    def rows_in(self, files: list[str]) -> int:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class PitFeatures(Workload):
    """`CheckpointedRun` over revisions: sessionize → as-of join of the
    requests → extract_many → lag_lead → partitioned parquet write."""

    name = "pit_features"
    buckets = 16
    waves = 1

    def _generate(self):
        return {"f2": gen.revisions(self.seed, self.n, self.path("f2")),
                "f3": gen.requests(self.seed, self.n, self.path("f3"))}

    def _sources(self, spark):
        return (spark.read.parquet(self.path("f2")),
                spark.read.parquet(self.path("f3")))

    @staticmethod
    def _steps(req, part, upto: str):
        """The wave transform, truncated after step `upto`."""
        df = sessionize(part, 3600.0)
        if upto == "window.sessionize":
            return df
        req_w = req.join(part.select("doc_id").distinct(), "doc_id",
                         "left_semi")
        df = asof_join(req_w, df.select("doc_id", "ts", "tokens", "n_tok",
                                        "session_index"),
                       value_cols=["tokens", "n_tok", "session_index"])
        if upto == "asof":
            return df
        df = extract_many(df, PIT_DESCS)
        if upto == "extract":
            return df
        return lag_lead(df, ["n_tok"], [1, 2, -1])

    def run_pass(self, spark) -> dict:
        shutil.rmtree(self.out, ignore_errors=True)
        rev, req = self._sources(spark)
        m = CheckpointedRun(spark, self.out, self.buckets, waves=self.waves
                            ).run(rev, lambda part: self._steps(req, part, ""))
        return {"rows": m["rows"], "vectors": m["rows"] * len(PIT_DESCS),
                "run": m}

    def _output(self) -> pa.Table:
        return ds.dataset(os.path.join(self.out, "data"), format="parquet",
                          partitioning="hive").to_table()

    def check_pass(self, spark, res, stages) -> list[str]:
        t = self._output()
        errs = []
        n_req = self.n * 4
        if t.num_rows != n_req or res["rows"] != n_req:
            errs.append(f"{t.num_rows} output rows ({res['rows']} counted), "
                        f"expected {n_req}")
        ts = t.column("ts").cast(pa.int64()).to_numpy()
        mts = t.column("matched_ts").cast(pa.int64()).to_numpy(
            zero_copy_only=False)
        valid = ~np.asarray(t.column("matched_ts").is_null())
        leaks = int((mts[valid] > ts[valid]).sum())
        if leaks:
            errs.append(f"{leaks} rows with matched_ts > ts")
        keys = pd.DataFrame({"d": t.column("doc_id").to_numpy(
            zero_copy_only=False), "t": ts})
        if keys.duplicated().any():
            errs.append("duplicate (doc_id, ts) output rows")
        return errs

    def deep_check(self, spark, res) -> dict:
        rng = np.random.default_rng(self.seed)
        ids = sorted(f"D{i:08d}" for i in rng.choice(self.n, 24, replace=False))
        flt = [("doc_id", "in", ids)]
        rev = pq.read_table(self.path("f2"), filters=flt).to_pandas()
        req = pq.read_table(self.path("f3"), filters=flt).to_pandas()
        rev = rev.sort_values(["doc_id", "ts"]).reset_index(drop=True)
        gap = rev.groupby("doc_id")["ts"].diff() > pd.Timedelta(hours=1)
        first = rev["doc_id"] != rev["doc_id"].shift()
        rev["session_index"] = (gap | first).astype(int).groupby(
            rev["doc_id"]).cumsum() - 1
        rev["matched_ts"] = rev["ts"]
        want = pd.merge_asof(
            req.sort_values("ts"), rev[["doc_id", "ts", "matched_ts", "tokens",
                                        "n_tok", "session_index"]
                                       ].sort_values("ts"),
            on="ts", by="doc_id", direction="backward",
            allow_exact_matches=True).sort_values(["doc_id", "ts"])
        g = want.groupby("doc_id")["n_tok"]
        for name, k in (("n_tok_lag1", 1), ("n_tok_lag2", 2),
                        ("n_tok_lead1", -1)):
            want[name] = g.shift(k)

        out = self._output()
        got = out.filter(pc.is_in(out.column("doc_id"),
                                  pa.array(ids))).to_pandas()
        got = got.sort_values(["doc_id", "ts"]).reset_index(drop=True)
        want = want.reset_index(drop=True)
        errs = []
        if len(got) != len(want):
            errs.append(f"{len(got)} sampled output rows, oracle {len(want)}")
        else:
            def same(a, b):
                a, b = pd.Series(a), pd.Series(b)
                return bool(((a == b) | (a.isna() & b.isna())).all())

            for col in ("ts", "matched_ts", "session_index", "n_tok",
                        "n_tok_lag1", "n_tok_lag2", "n_tok_lead1"):
                if not same(got[col].astype("float64" if "ts" not in col
                                            else "datetime64[us]"),
                            want[col].astype("float64" if "ts" not in col
                                             else "datetime64[us]")):
                    errs.append(f"column {col} differs from the pandas oracle")
            toks_ok = all(
                (a is None and not isinstance(b, np.ndarray))
                or (a is not None and isinstance(b, np.ndarray)
                    and np.array_equal(np.asarray(a), b))
                for a, b in zip(got["tokens"], want["tokens"]))
            if not toks_ok:
                errs.append("matched token arrays differ from the oracle")
            toks = pa.array([None if not isinstance(b, np.ndarray)
                             else b.tolist() for b in want["tokens"]],
                            pa.list_(pa.int32()))
            for d, vec in zip(PIT_DESCS, kernel_rows(PIT_DESCS, toks)):
                if not all(np.allclose(np.asarray(a), v, rtol=1e-9,
                                       atol=1e-12)
                           for a, v in zip(got[out_name(d)], vec)):
                    errs.append(f"{out_name(d)} vectors differ")
        for e in errs:
            self._fail(e)
        return {"sampled_docs": len(ids), "sampled_rows": len(want),
                "errors": errs}

    def n_revisions(self) -> int:
        return pq.ParquetDataset(self.path("f2")).read(
            columns=["doc_id"]).num_rows

    def output_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(os.path.join(self.out, "data"))
                   for f in fs)

    def own_kernel_tokens(self, spark) -> int:
        return int(np.nansum(self._output().column("n_tok").to_numpy(
            zero_copy_only=False).astype(float)))

    def boundary(self, spark):
        rev, _ = self._sources(spark)
        return (lambda: noop(rev.select("doc_id", "tokens")),
                lambda: noop(rev.select(
                    "doc_id", identity_udf(rev.schema["tokens"].dataType)(
                        "tokens").alias("t"))))

    def _waves(self, spark, upto: str) -> None:
        """Run the truncated transform wave by wave, as CheckpointedRun
        does, into noop."""
        rev, req = self._sources(spark)
        bucketed = bucket_by(rev, "doc_id", self.buckets)
        step = max(1, self.buckets // self.waves)
        for w in range(0, self.buckets, step):
            part = bucketed.filter(F.col("bucket").isin(
                list(range(w, w + step))))
            if upto == "scan":
                noop(part.select("doc_id", "ts", "tokens", "n_tok"))
            else:
                noop(self._steps(req, part, upto))

    def prefixes(self, spark):
        return [(layer, (lambda u=layer: self._waves(spark, u)))
                for layer in ("scan", "window.sessionize", "asof", "extract",
                              "window.lag_lead")] + [
            ("checkpoint", lambda: self.run_pass(spark))]

    def resume(self, spark) -> dict:
        """Drop a quarter of the buckets from the manifest and the data of a
        finished run, resume it, and report what was recomputed."""
        self.run_pass(spark)
        dropped = list(range(0, self.buckets, 4))
        for b in dropped:
            shutil.rmtree(os.path.join(self.out, "data", f"bucket={b}"))
        mdir = os.path.join(self.out, "manifest")
        man = ds.dataset(mdir, format="parquet").to_table()
        keep = man.filter(pc.invert(pc.is_in(
            man.column("bucket"), pa.array(dropped, pa.int32()))))
        shutil.rmtree(mdir)
        os.makedirs(mdir)
        pq.write_table(keep, os.path.join(mdir, "part-0.parquet"))
        rev, req = self._sources(spark)
        t0 = time.perf_counter()
        m = CheckpointedRun(spark, self.out, self.buckets, waves=self.waves
                            ).run(rev, lambda part: self._steps(req, part, ""))
        dt = time.perf_counter() - t0
        errs = self.check_pass(spark, {"rows": self.n * 4}, None)
        if m["buckets_processed"] != len(dropped):
            errs.append(f"resume recomputed {m['buckets_processed']} buckets, "
                        f"{len(dropped)} were dropped")
        for e in errs:
            self._fail("resume: " + e)
        return {"resume_s": dt, "buckets_dropped": len(dropped),
                "buckets_recomputed": m["buckets_processed"],
                "files_written": sum(len(fs) for _, _, fs in os.walk(
                    os.path.join(self.out, "data")))}


class NearDedup(Workload):
    """`ngram_jaccard_pairs` and the MinHash-LSH pairs of `near_dedup` over
    a text corpus with planted near-clones.  The component loop that
    `near_dedup` adds is timed by the traced run (see `components`)."""

    name = "near_dedup"
    steady_passes = 4
    shingle_n = 3
    ngram_t = 0.5
    stop_df = 200           # ngram_jaccard_pairs' max_shingle_freq default

    def _generate(self):
        digest, planted = gen.corpus(self.seed, self.n, self.path("corpus"))
        with open(self.path("planted.json"), "w") as f:
            json.dump(planted, f)
        return {"corpus": digest}

    def _df(self, spark):
        return spark.read.parquet(self.path("corpus"))

    def _ngram(self, spark) -> list[tuple]:
        p = ngram_jaccard_pairs(self._df(spark), shingle_n=self.shingle_n,
                                threshold=self.ngram_t)
        rows = sorted((r[0], r[1], r[2]) for r in p.collect())
        release_caches(p)
        return rows

    def _minhash(self, spark) -> list[tuple]:
        p = minhash_dedup(self._df(spark), threshold=0.8, bands=8)
        rows = sorted((r[0], r[1]) for r in p.select("id_a", "id_b").collect())
        release_caches(p)
        return rows

    def run_pass(self, spark) -> dict:
        return {"rows": self.n, "vectors": 0, "pairs": self._ngram(spark),
                "minhash": self._minhash(spark)}

    def check_pass(self, spark, res, stages) -> list[str]:
        if self.ref is None:
            return []
        errs = []
        if res["pairs"] != self.ref["pairs"]:
            errs.append("n-gram pairs differ from the verified first pass")
        if res["minhash"] != self.ref["minhash"]:
            errs.append("minhash pairs differ from the first pass")
        return errs

    def _shingles(self, texts: list[str]) -> list[set[str]]:
        n = self.shingle_n
        out = []
        for t in texts:
            w = t.lower().split()
            out.append({" ".join(w[i:i + n]) for i in range(len(w) - n + 1)})
        return out

    def deep_check(self, spark, res) -> dict:
        """Re-verify every n-gram pair with exact Python Jaccard (stop
        shingles dropped as the operator documents) and require every
        planted near-clone at or above the threshold to be found."""
        texts = pq.read_table(self.path("corpus")).to_pydict()
        ids, sh = texts["doc_id"], self._shingles(texts["text"])
        df_count: dict[str, int] = {}
        for s in sh:
            for x in s:
                df_count[x] = df_count.get(x, 0) + 1
        kept_sh = {i: {x for x in s if df_count[x] <= self.stop_df}
                   for i, s in zip(ids, sh)}

        def jac(a, b):
            u = len(kept_sh[a] | kept_sh[b])
            return len(kept_sh[a] & kept_sh[b]) / u if u else 0.0

        errs = []
        bad = sum(1 for a, b, j in res["pairs"]
                  if abs(jac(a, b) - j) > 1e-9 or j < self.ngram_t)
        if bad:
            errs.append(f"{bad} n-gram pairs fail exact re-verification")
        found = {(a, b) for a, b, _ in res["pairs"]}
        with open(self.path("planted.json")) as f:
            planted = [tuple(p) for p in json.load(f)]
        due = [p for p in planted if jac(*p) >= self.ngram_t]
        hit = sum(1 for p in due if p in found)
        recall = hit / len(due) if due else 1.0
        if hit != len(due):
            errs.append(f"recall of planted near-clones {recall:.4f} < 1")
        if any(not 0 <= a < b < self.n for a, b in res["minhash"]):
            errs.append("minhash pairs are not ordered ids of the corpus")
        for e in errs:
            self._fail(e)
        self.ref = {"pairs": res["pairs"], "minhash": res["minhash"]}
        return {"ngram_pairs": len(res["pairs"]),
                "minhash_pairs": len(res["minhash"]),
                "planted": len(planted), "planted_due": len(due),
                "planted_recall": recall, "errors": errs}

    def boundary(self, spark):
        df = self._df(spark)
        return (lambda: noop(df.select("doc_id", "text")),
                lambda: noop(df.select(
                    "doc_id", identity_udf(df.schema["text"].dataType)(
                        "text").alias("t"))))

    def prefixes(self, spark):
        scan, ident = self.boundary(spark)
        return [
            ("scan", scan),
            ("dedup.boundary", ident),
            ("dedup.ngram", lambda: self._ngram(spark)),
            ("dedup.minhash", lambda: self.run_pass(spark)),
        ]

    def shingle_seconds(self) -> float:
        """Single-core seconds of the shared shingle-hash kernel over the
        whole corpus, in BATCH-row Arrow batches."""
        text = pq.read_table(self.path("corpus"), columns=["text"]) \
            .column("text").combine_chunks()
        _word_hash_shingles(text.slice(0, BATCH), self.shingle_n)
        t0 = time.perf_counter()
        for i in range(0, len(text), BATCH):
            _word_hash_shingles(text.slice(i, BATCH), self.shingle_n)
        return time.perf_counter() - t0

    def keepers(self) -> list[int]:
        """One minimum id per component of the verified minhash pairs."""
        parent = list(range(self.n))

        def root(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.ref["minhash"]:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
        return [i for i in range(self.n) if root(i) == i]

    def components(self, spark, timed) -> dict:
        """Time `near_dedup` (MinHash pairs + the component loop) against
        the MinHash pairs alone, check its keepers, and count candidates
        and component rounds."""
        df = self._df(spark)
        mh = timed("dedup.minhash_only", lambda: self._minhash(spark))
        nd = timed("dedup.near_dedup", lambda: sorted(
            r[0] for r in near_dedup(df, threshold=0.8, bands=8)
            .select("doc_id").collect()))
        if nd.get("result") != self.keepers():
            self._fail("near_dedup keepers are not one minimum id per "
                       "component of the minhash pairs")
        sigs = minhash_signatures(df).cache()
        cands = minhash_lsh_candidates(sigs, bands=8).count()
        sigs.unpersist()
        comps = dedup_components(spark.createDataFrame(
            self.ref["minhash"] or [(0, 0)], "id_a long, id_b long"))
        return {"dedup.components_s": nd["seconds"] - mh["seconds"],
                "dedup.near_dedup_s": nd["seconds"],
                "dedup.minhash_candidates": cands,
                "dedup.minhash_precision": len(self.ref["minhash"])
                / max(1, cands),
                "dedup.component_rounds": getattr(comps, "_component_rounds",
                                                  0),
                "dedup.keepers": len(self.keepers())}


WORKLOADS = {w.name: w for w in (DescriptorScan, PitFeatures, NearDedup)}

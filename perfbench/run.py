#!/usr/bin/env python3
"""Benchmark of ifeatureomega_cli_spark: three seeded workloads at local[nproc].

    python3 perfbench/run.py --workload descriptor_scan --seed 1 --seconds 5 --trace 0

Run from the repository root.  `--trace 0` measures the end-to-end metrics
(untraced, with session.py's defaults); `--trace 1` is the separate traced
run that splits the workload's wall time over the package's layers.  The
last line of standard output is one JSON object with `correct`, `attempted`,
`failed` and `metrics`; the lines before it print every metric with its
unit, and the full record (samples, checks, host witness, spans) is written
under perfbench/.work/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
import traceback

import obs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
N_SETUPS = 3

END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s",
              "worker_rss_mb": "MB"}
FUSED_NAMES = ["AAC", "DPC_type_1", "CKSAAP_type_1", "GAAC", "CTDC", "CTDT",
               "CTDD", "PAAC"]
PER_LAYER = {
    "session.start_s": "s", "session.worker_spawn_s": "s",
    "scan.s": "s", "scan.bytes": "bytes", "boundary.s": "s",
    **{f"kernel.{d}.s": "s" for d in FUSED_NAMES},
    "kernel.total_s": "s", "kernel.ns_per_token": "ns",
    "kernel.slot_share": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.task_skew": "ratio",
    "trace.layer_sum_ratio": "ratio", "trace.overhead_s": "s",
}


T_START = time.perf_counter()
PHASES: dict[str, float] = {}


def phase(name: str) -> None:
    """Record seconds since process start at the end of a run phase."""
    PHASES[name] = time.perf_counter() - T_START


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    perfbench/.work, and let the workers import the package."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    sys.path[:0] = [ROOT, HERE]


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: the Python
    worker daemon can outlive the JVM that spawned it, and is then
    re-parented here, where `stop_processes` waits for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_processes(grace: float = 30.0) -> None:
    """Stop Spark and its JVM, then wait until every process this run started
    has ended; whatever is still alive after `grace` seconds is killed.
    Safe to call more than once."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                sc.stop()
            except Exception:  # a broken context must not keep the JVM up
                traceback.print_exc()
        gw, proc = SparkContext._gateway, None
        if gw is not None:
            SparkContext._gateway = SparkContext._jvm = None
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                traceback.print_exc()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()      # the gateway JVM exits on EOF
            try:
                proc.wait(grace)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return                      # no child left, adopted ones included
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in obs.descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def new_session(master: str | None = None):
    """session.py's get_spark (defaults, UI off) plus the spawn of every
    Python worker; returns (spark, getOrCreate s, worker spawn s)."""
    from ifeatureomega_cli_spark import get_spark
    from workloads import spawn_udf

    conf = {"spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"}
    t0 = time.perf_counter()
    spark = get_spark(master=master, extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")

    slots = spark.sparkContext.defaultParallelism
    (spark.range(0, slots * 64, numPartitions=slots).select(spawn_udf()("id"))
     .write.format("noop").mode("overwrite").save())
    return spark, t1 - t0, time.perf_counter() - t1


class Runner:
    """Runs and records timed passes of one workload."""

    def __init__(self, wl, spark, ledger, rss):
        self.wl, self.spark, self.ledger, self.rss = wl, spark, ledger, rss
        self.passes: list[dict] = []

    def timed(self, label: str, fn, group: str | None = None) -> dict:
        """Run `fn` once after releasing caches; time it, record peak RSS and
        the stage metrics of its jobs."""
        sc = self.spark.sparkContext
        self.wl.release(self.spark)
        if group:
            sc.setJobGroup(group, group)
        j0 = self.ledger.max_job_id()
        self.rss.reset()
        steal0 = obs.steal_seconds()
        cpu0 = obs.tree_cpu_s(self.rss.pid)
        start = time.time()
        t0 = time.perf_counter()
        rec = {"label": label, "group": group, "errors": []}
        try:
            rec["result"] = fn()
        except Exception:  # a failed pass is counted, not fatal
            rec["errors"].append(traceback.format_exc(limit=3))
        rec["seconds"] = time.perf_counter() - t0
        rec["steal_s"] = obs.steal_seconds() - steal0
        rec["cpu_s"] = obs.tree_cpu_s(self.rss.pid) - cpu0
        rec["start"], rec["end"] = start, start + rec["seconds"]
        rec["peak_rss_mb"] = self.rss.peak()
        rec["peak_worker_rss_mb"] = self.rss.peak_workers()
        rec["stages"] = self.ledger.collect(after_job=j0, group=group)
        return rec

    def measured_pass(self, label: str) -> dict:
        rec = self.timed(label, lambda: self.wl.run_pass(self.spark))
        if not rec["errors"]:
            rec["errors"] += self.wl.check_pass(self.spark, rec["result"],
                                                rec["stages"])
        self.passes.append(rec)
        return rec


def scaling(wl, runner, wall_s: float) -> dict:
    """Weak scaling of descriptor_scan: local[nproc] over the whole input
    against local[1] over 1/nproc of its files."""
    from gen import N_FILES

    n = nproc()
    runner.spark.stop()
    spark, _, _ = new_session("local[1]")
    runner.spark, runner.ledger = spark, obs.StageLedger(spark)
    files = wl.scaling_files(max(1, N_FILES // n))
    rows = wl.rows_in(files)
    times = [runner.timed("local[1]", lambda: wl.run_pass(spark, files))
             ["seconds"] for _ in range(2)]
    one = rows / min(times)
    return {"scaling_eff": (wl.n / wall_s) / (n * one),
            "local1_rows": rows, "local1_seconds": times}


def steady_wall(runner) -> dict:
    """Summary of the seconds of every steady pass that passed its checks."""
    steady = [p["seconds"] for p in runner.passes
              if p["label"] == "steady" and not p["errors"]]
    if not steady:
        raise RuntimeError("no steady pass succeeded")
    return obs.summary(steady)


def traced(wl, runner, setups: dict, reps: int) -> tuple[dict, dict]:
    """Time the workload's cumulative prefixes (median of `reps`), each
    under its own job group, and attribute each difference to the layer
    just added."""
    import gen
    from workloads import FUSED, PIT_DESCS, kernel_probe

    spark, n = runner.spark, nproc()
    root = {"trace_id": f"{wl.name}-{wl.seed}", "span_id": 0,
            "parent": None, "name": wl.name, "start": time.time()}
    spans, chain = [root], []
    for i, (layer, fn) in enumerate(wl.prefixes(spark), 1):
        recs = [runner.timed(layer, fn, group=f"prefix:{layer}")
                for _ in range(reps)]
        runner.passes += [r for r in recs if r["errors"]]
        rec = dict(recs[-1], samples=[r["seconds"] for r in recs],
                   seconds=obs.summary([r["seconds"] for r in recs])["median"])
        chain.append(rec)
        spans.append({"trace_id": root["trace_id"], "span_id": i,
                      "parent": 0, "name": layer, "start": rec["start"],
                      "end": rec["end"], "job_group": rec["group"],
                      "stages": rec["stages"]})
    root["end"] = time.time()
    # the chain ran on a JVM warmer than the plain passes before it: time the
    # plain pass as often again after it, so that the layers are compared
    # with a wall time taken on both sides of them
    for _ in range(reps):
        runner.measured_pass("steady")
    wall_s = steady_wall(runner)["median"]
    t = {r["label"]: r["seconds"] for r in chain}
    self_s, prev = {}, 0.0
    for r in chain:
        self_s[r["label"]] = r["seconds"] - prev
        prev = r["seconds"]
    full = chain[-1]
    if "scan" in t and any(k.endswith("boundary") for k in t):
        bound = next(v for k, v in t.items() if k.endswith("boundary"))
        scan_s, boundary_s = t["scan"], bound - t["scan"]
    else:
        scan_fn, ident_fn = wl.boundary(spark)
        s0 = runner.timed("boundary.scan", scan_fn, group="boundary")
        s1 = runner.timed("boundary.identity", ident_fn, group="boundary")
        scan_s, boundary_s = t["scan"], s1["seconds"] - s0["seconds"]

    probe = gen.sequences_table(wl.seed, 4 * 2048).column("tokens") \
        .combine_chunks()
    probe_tokens = len(probe.values)
    kern = kernel_probe(FUSED, probe)
    total = sum(kern.values())
    if wl.name == "near_dedup":
        own = 2 * wl.shingle_seconds()       # ngram and minhash each shingle
    else:
        descs = FUSED if wl.name == "descriptor_scan" else PIT_DESCS
        own = (sum(kern[d] for d in descs)
               * wl.own_kernel_tokens(spark) / probe_tokens)
    st = full["stages"]
    layer = {
        "session.start_s": setups["start"], "session.worker_spawn_s":
            setups["spawn"],
        "scan.s": scan_s, "scan.bytes": wl.input_bytes(),
        "boundary.s": boundary_s,
        **{f"kernel.{d.split(':')[1].replace(' ', '_')}.s": v
           for d, v in kern.items()},
        "kernel.total_s": total,
        "kernel.ns_per_token": total * 1e9 / probe_tokens,
        "kernel.slot_share": own / (wall_s * n),
        "spark.jobs": st["jobs"], "spark.stages": st["stages"],
        "spark.tasks": st["tasks"],
        "spark.executor_run_s": st["executor_run_s"],
        "spark.executor_cpu_s": st["executor_cpu_s"],
        "spark.cpu_util": st["executor_cpu_s"] / (full["seconds"] * n),
        "spark.shuffle_write_bytes": st["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": st["shuffle_read_bytes"],
        "spark.task_skew": st["task_skew"],
        "trace.layer_sum_ratio": sum(self_s.values()) / wall_s,
        "trace.overhead_s": full["seconds"] - wall_s,
    }
    ledger = {"self_s": self_s, "prefix_s": t,
              "layer_sum_within_10pct":
                  abs(sum(self_s.values()) / wall_s - 1) <= 0.10,
              "spark_gc_s": st["gc_s"], "spark_spill_bytes": st["spill_bytes"],
              "kernel_own_s": own, "kernel_probe_rows": len(probe),
              "kernel_probe_tokens": probe_tokens,
              "prefix_stages": {r["label"]: r["stages"] for r in chain}}
    ledger.update(module_ledger(wl, runner, chain, self_s))
    ledger["spans"] = spans
    return layer, ledger


def module_ledger(wl, runner, chain, self_s) -> dict:
    """Workload-specific layer figures named after the package's modules."""
    st = {r["label"]: r["stages"] for r in chain}

    def sw(label, prev):
        return (st[label]["shuffle_write_bytes"]
                - (st[prev]["shuffle_write_bytes"] if prev else 0))

    if wl.name == "descriptor_scan":
        return {"extract.boundary_s": self_s["extract.boundary"],
                "kernel.self_s": self_s["kernel"],
                "extract.output_s": self_s["extract.output"],
                "extract.output_payload_bytes": wl.n * 2321 * 8}
    if wl.name == "pit_features":
        full = chain[-1]
        n_rev = wl.n_revisions()
        res = wl.resume(runner.spark)
        out = {
            "window.sessionize_s": self_s["window.sessionize"],
            "asof.s": self_s["asof"],
            "extract.s": self_s["extract"],
            "window.lag_lead_s": self_s["window.lag_lead"],
            "checkpoint.self_s": self_s["checkpoint"],
            "checkpoint.run_s": full["seconds"],
            "asof.shuffle_write_bytes": sw("asof", "window.sessionize"),
            "asof.task_skew": st["asof"]["task_skew"],
            "window.shuffle_write_bytes": sw("window.sessionize", "scan")
            + sw("window.lag_lead", "extract"),
            "checkpoint.write_bytes": wl.output_bytes(),
            "checkpoint.source_scans": sum(
                1 for r in full["stages"]["stage_input_records"]
                if r == n_rev),
            **{f"checkpoint.{k}": v for k, v in res.items()},
        }
        out["checkpoint.resume_ratio"] = res["resume_s"] / full["seconds"]
        return out
    comp = wl.components(runner.spark, lambda label, fn: runner.timed(
        label, fn, group=label))
    return {
        "dedup.ngram_s": self_s["dedup.ngram"],
        "dedup.minhash_s": self_s["dedup.minhash"],
        **comp,
        "dedup.ngram_pairs": len(wl.ref["pairs"]),
        "dedup.shuffle_write_bytes": chain[-1]["stages"]["shuffle_write_bytes"],
        "dedup.jobs": chain[-1]["stages"]["jobs"],
    }


def fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ifeatureomega_cli_spark",
                                       "__init__.py")):
        print(f"perfbench: package ifeatureomega_cli_spark not found under "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    prepare_env()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](WORK, args.seed, args.size)
    phase("imports")
    witness = {"loadavg_start": obs.loadavg(), "nproc": nproc(),
               "steal_s_start": obs.steal_seconds(),
               "control_pre_vec_per_s": obs.control_probe()}
    t0 = time.perf_counter()
    digests = wl.generate()
    gen_s = time.perf_counter() - t0
    phase("generate")
    with open(os.path.join(HERE, "checksums.json")) as f:
        pinned = json.load(f).get(wl.name, {}).get(args.size, {}).get(
            str(args.seed))
    if pinned is not None and pinned != digests:
        wl._fail(f"input checksums {digests} differ from pinned {pinned}")

    starts, spawns, spark = [], [], None
    for _ in range(N_SETUPS):
        if spark is not None:
            spark.stop()
        spark, a, b = new_session()
        starts.append(a)
        spawns.append(b)
    setup = [a + b for a, b in zip(starts, spawns)]
    phase("setup")
    result, layer, ledger, extra = {}, {}, {}, {}
    runner = None
    try:
        with obs.RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            runner = Runner(wl, spark, obs.StageLedger(spark), rss)
            first = runner.measured_pass("first")
            phase("first_pass")
            if not first["errors"]:
                try:
                    extra["deep_check"] = wl.deep_check(spark,
                                                        first["result"])
                except Exception:  # an oracle that raises fails the pass
                    wl.failures.append(traceback.format_exc(limit=3))
                first["errors"] += wl.failures
                wl.failures = []
            phase("deep_check")
            reps = 1
            if args.trace:
                # the second pass still pays JIT and worker warm-up: run it,
                # check it, count it, but keep it out of wall_s
                runner.measured_pass("warmup")
                runner.measured_pass("steady")
                if runner.passes[-1]["seconds"] < 3.0:   # short: median of 3
                    reps = 3
                    for _ in range(reps - 1):
                        runner.measured_pass("steady")
            else:
                # a fixed pass count keeps every run at the same point of
                # the warm-up curve, and the median over it drops the passes
                # a burst of host load slowed; --seconds is the least time
                # measured
                t0 = time.perf_counter()
                while (sum(p["label"] == "steady" for p in runner.passes)
                       < wl.steady_passes
                       or time.perf_counter() - t0 < args.seconds):
                    runner.measured_pass("steady")
            phase("steady")
            if args.trace:
                layer, ledger = traced(wl, runner, {
                    "start": obs.summary(starts)["median"],
                    "spawn": obs.summary(spawns)["median"]}, reps)
                if wl.failures:
                    runner.passes.append({"label": "traced-checks",
                                          "errors": wl.failures})
            wall = steady_wall(runner)
            steady = [p for p in runner.passes
                      if p["label"] == "steady" and not p["errors"]]
            if args.trace and wl.name == "descriptor_scan":
                extra["scaling"] = scaling(wl, runner, wall["median"])
    finally:
        stop_processes()
    phase("stop")
    witness.update(loadavg_end=obs.loadavg(),
                   steal_s=obs.steal_seconds() - witness.pop("steal_s_start"),
                   control_post_vec_per_s=obs.control_probe())
    ctrl = (witness["control_pre_vec_per_s"], witness["control_post_vec_per_s"])
    phase("witness")
    witness["host_flagged"] = min(ctrl) < 0.75 * max(ctrl)

    attempted = len(runner.passes)
    failed = sum(1 for p in runner.passes if p["errors"])
    rows = steady[0]["result"]["rows"]
    vectors = steady[0]["result"]["vectors"]
    result = {
        "setup_s": obs.summary(setup),
        "wall_s": wall,
        "rows_per_s": obs.summary([rows / p["seconds"] for p in steady]),
        "worker_rss_mb": obs.summary([p["peak_worker_rss_mb"]
                                      for p in steady]),
    }
    shown = {k: (v["median"], END_TO_END[k], v) for k, v in result.items()}
    shown["peak_rss_mb"] = (first["peak_rss_mb"], "MB", None)
    shown["first_pass_s"] = (first["seconds"], "s", None)
    cpu = obs.summary([p["cpu_s"] for p in steady])
    shown["cpu_s"] = (cpu["median"], "s", cpu)
    if vectors:
        shown["vectors_per_s"] = (vectors / wall["median"], "1/s", None)
    shown["error_rate"] = (failed / attempted, "ratio", None)
    if "scaling" in extra:
        shown["scaling_eff"] = (extra["scaling"]["scaling_eff"], "ratio", None)

    print(f"perfbench {wl.name} seed={args.seed} size={args.size} "
          f"trace={args.trace} local[{nproc()}] n={wl.n} "
          f"inputs={json.dumps(digests)} gen_s={gen_s:.2f}")
    for k, (v, unit, s) in shown.items():
        spread = (f"  q1={fmt(s['q1'])} q3={fmt(s['q3'])} n={s['n']}"
                  if s else "")
        print(f"  {k:<28} {fmt(v):>12} {unit}{spread}")
    for k, v in layer.items():
        print(f"  {k:<28} {fmt(v):>12} {PER_LAYER[k]}")
    for k, v in ledger.items():
        if not isinstance(v, (dict, list)):
            print(f"  ledger {k:<21} {v}")
    print(f"  host loadavg {witness['loadavg_start'][0]:.2f}->"
          f"{witness['loadavg_end'][0]:.2f} steal {witness['steal_s']:.1f} s"
          f" control {ctrl[0]:.0f}->"
          f"{ctrl[1]:.0f} vec/s flagged={witness['host_flagged']}")
    for p in runner.passes:
        for e in p["errors"]:
            print(f"  FAILED {p['label']}: {e.strip().splitlines()[-1]}")

    record = {
        "workload": wl.name, "seed": args.seed, "size": args.size,
        "trace": args.trace, "n": wl.n, "inputs": digests,
        "pinned_inputs": pinned, "gen_s": gen_s, "witness": witness,
        "end_to_end": result, "shown": {k: v[0] for k, v in shown.items()},
        "setup": {"start_s": starts, "spawn_s": spawns}, "phases": PHASES,
        "per_layer": layer, "ledger": ledger, "extra": extra,
        "passes": [{k: v for k, v in p.items() if k != "result"}
                   for p in runner.passes],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{wl.name}-{args.size}-s{args.seed}"
                       f"-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"  record {os.path.relpath(out, ROOT)}")

    names = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else {k: v["median"] for k, v in
                                       result.items()}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in names.items()}}))
    return 0


if __name__ == "__main__":
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        code = main()
    finally:
        stop_processes()
    sys.exit(code)

#!/usr/bin/env python3
"""lakeflow benchmark: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The process builds its inputs from ``--seed``
(cached by seed in ``.perfbench_cache/``), sets up a ``local[N]`` session
with N = the CPUs this process may use, runs the workload and checks every
operation's output. A report with units and the environment goes to stderr
and to ``.perfbench_out/``; the last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones, from spans recorded
around the benchmark's calls into each layer (written to
``.perfbench_out/spans-*.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "op_ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}

# Per-layer metrics: unit and how the run's samples reduce to one value.
# "span" = median duration of the spans of that name, "median"/"mean" over
# the per-operation counter samples, "value" = one reading at the end.
PER_LAYER = {
    "session.get_session_s": ("s", "span"),
    "session.warmup_s": ("s", "span"),
    "queries.build_s": ("s", "span"),
    "queries.eager_sql_execs": ("count", "mean"),
    "catalyst.analysis_s": ("s", "median"),
    "catalyst.optimization_s": ("s", "median"),
    "catalyst.planning_s": ("s", "median"),
    "exec.run_s": ("s", "span"),
    "exec.shuffle_bytes": ("bytes", "mean"),
    "exec.spill_bytes": ("bytes", "mean"),
    "exec.scan_rows": ("count", "mean"),
    "exec.tasks": ("count", "mean"),
    "exec.jvm_gc_s": ("s", "mean"),
    "tables.commit_s": ("s", "span"),
    "tables.upsert_mor_s": ("s", "span"),
    "tables.compact_s": ("s", "span"),
    "tables.scan_point_s": ("s", "span"),
    "tables.read_version_s": ("s", "span"),
    "tables.read_s": ("s", "span"),
    "tables.versions": ("count", "value"),
    "tables.data_dirs": ("count", "value"),
    "tables.manifest_bytes": ("bytes", "value"),
    "streaming.drain_s": ("s", "span"),
    "streaming.batches": ("count", "mean"),
    "streaming.latestOffset_ms": ("ms", "median"),
    "streaming.queryPlanning_ms": ("ms", "median"),
    "streaming.addBatch_ms": ("ms", "median"),
    "streaming.walCommit_ms": ("ms", "median"),
    "streaming.commitOffsets_ms": ("ms", "median"),
    "streaming.triggerExecution_ms": ("ms", "median"),
    "plans.pipeline_run_s": ("s", "span"),
    "elt.write_p50_s": ("s", "median"),
    "elt.read_p50_s": ("s", "median"),
    "elt.freshness_p50_s": ("s", "median"),
    "elt.space_amp": ("ratio", "value"),
}
LAYERS = ("bench", "session", "queries", "catalyst", "exec", "tables",
          "streaming", "plans", "check")
for _layer in LAYERS:
    PER_LAYER[f"self.{_layer}_s"] = ("s", "value")
PER_LAYER["trace.op_p50_s"] = ("s", "value")
PER_LAYER["trace.probe_s"] = ("s", "value")

# Counter samples whose name differs from the metric they reduce to.
_SAMPLES = {
    "elt.write_p50_s": "elt.write_s",
    "elt.read_p50_s": "elt.read_s",
    "elt.freshness_p50_s": "elt.freshness_s",
}


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it: returns
    (value, percentile, sample count). With 10 or fewer samples there is
    none, and the maximum is returned as the 100th percentile."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(ops, setup_s: float, rss_mb: float) -> dict[str, float]:
    ok = [o.latency_s for o in ops if o.ok]
    if not ok:
        raise RuntimeError("no operation succeeded")
    return {
        "setup_s": setup_s,
        "ops_per_s": len(ok) / sum(o.latency_s for o in ops),
        "op_p50_s": statistics.median(ok),
        "op_tail_s": tail(ok)[0],
        "op_ok_ratio": len(ok) / len(ops),
        "peak_rss_mb": rss_mb,
    }


def per_layer(spans, counts, extra, ops, probe_s: float) -> dict[str, float]:
    from perfbench.spans import self_times

    by_name: dict[str, list[float]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s.end - s.start)
    out: dict[str, float] = {}
    for name, (_, how) in PER_LAYER.items():
        if how == "span":
            xs = by_name.get(name[: -len("_s")], [])
        elif how == "value":
            out[name] = float(extra.get(name, 0.0))
            continue
        else:
            xs = counts.get(_SAMPLES.get(name, name), [])
        if not xs:
            out[name] = 0.0
        elif how == "mean":
            out[name] = float(statistics.fmean(xs))
        else:
            out[name] = float(statistics.median(xs))
    for layer, secs in self_times(spans).items():
        out[f"self.{layer}_s"] = secs
    out["trace.probe_s"] = probe_s
    out["trace.op_p50_s"] = statistics.median([o.latency_s for o in ops if o.ok])
    return out


def _warm_session(spark) -> None:
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()


def _hermetic(work: str) -> None:
    """Keep every file the run makes inside ``work``, and let Spark's Python
    workers import ``lakeflow`` from this checkout."""
    os.makedirs(work, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = work
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _exit_on_sigterm(signum, frame) -> None:
    # SystemExit unwinds through main's finally, which stops the JVM, and
    # lets the scratch directory's atexit removal run.
    sys.exit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    work = os.path.join(ROOT, ".perfbench_work")
    _hermetic(work)
    args = parse_args(argv)

    from lakeflow.scratch import use_process_scratch
    from lakeflow.session import get_session
    from perfbench import probes, workloads
    from perfbench.oracle import QueryOracle
    from perfbench.spans import Tracer

    scratch = use_process_scratch()
    os.environ["TMPDIR"] = scratch
    os.chdir(scratch)
    cache = os.path.join(ROOT, ".perfbench_cache")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -Xms{DRIVER_MEM} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
    }
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("session.get_session"):
            spark = get_session(
                "lakeflow-perfbench", master=f"local[{cores}]",
                shuffle_partitions=cores, extra_conf=conf,
            )
        with tracer.span("session.warmup"):
            _warm_session(spark)
        # One reading from process start: interpreter, imports, the JVM
        # launch and the session warm-up.
        setup_s = probes.process_age_s()

        ctx = workloads.Ctx(
            spark=spark,
            tracer=tracer,
            probe=probes.StatusProbe(spark) if args.trace else None,
            oracle=QueryOracle(),
            seed=args.seed,
            cache=cache,
            scratch=scratch,
        )
        cycles = workloads.cycles_for(args.workload, args.seconds)
        t_loop, ticks = time.perf_counter(), probes.cpu_ticks()
        workloads.WORKLOADS[args.workload](ctx, cycles)
        loop_s = time.perf_counter() - t_loop
        steal = probes.steal_share(ticks, probes.cpu_ticks())
        ctx.oracle.close()

        rss = probes.peak_rss_mb(spark)
        e2e = end_to_end(ctx.ops, setup_s, rss)
        layers = per_layer(tracer.spans, ctx.counts, ctx.extra, ctx.ops, ctx.probe_s)
        metrics = layers if args.trace else e2e
        units = {k: (END_TO_END.get(k) or PER_LAYER[k][0]) for k in metrics}
        failed = [o for o in ctx.ops if not o.ok]
        lat = [o.latency_s for o in ctx.ops if o.ok]
        _, tail_pct, n = tail(lat)
        env = probes.environment(spark, ROOT, cores, DRIVER_MEM)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cycles": cycles,
            "loop_s": loop_s,
            "phases_s": ctx.phases,
            "cpu_steal_share": steal,
            "environment": env,
            "inputs": ctx.sizes,
            "end_to_end": e2e,
            "op_fail_ratio": len(failed) / len(ctx.ops),
            "op_tail_percentile": tail_pct,
            "op_samples": n,
            "failed_ops": [{"name": o.name, "error": o.error} for o in failed],
            "known_defects": ctx.known_defects,
            "ops": [[o.name, o.latency_s, o.ok] for o in ctx.ops],
            "elt": {k: v for k, v in layers.items() if k.startswith("elt.")},
            "metrics": metrics,
        }
        tag = f"{args.workload}-s{args.seed}-t{args.trace}"
        with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        if args.trace:
            tracer.dump(os.path.join(out_dir, f"spans-{tag}.json"))
    finally:
        if spark is not None:
            _stop(spark)

    _report(record, units)
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(ctx.ops),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _report(rec: dict, units: dict) -> None:
    w = sys.stderr.write
    env = rec["environment"]
    w(f"workload {rec['workload']} seed {rec['seed']} cycles {rec['cycles']} "
      f"trace {rec['trace']} loop {rec['loop_s']:.1f} s {json.dumps(rec['phases_s'])} "
      f"cpu steal {rec['cpu_steal_share']:.3f}\n")
    w("environment " + json.dumps(env) + "\n")
    w("inputs " + json.dumps(rec["inputs"]) + "\n")
    for k, v in rec["end_to_end"].items():
        w(f"  {k:<32} {v:14.4f} {END_TO_END[k]}\n")
    w(f"  {'op_fail_ratio':<32} {rec['op_fail_ratio']:14.4f} ratio\n")
    w(f"  op_tail_s is p{rec['op_tail_percentile']:.1f} of {rec['op_samples']} samples\n")
    for k, v in rec["elt"].items():
        if rec["workload"] == "elt_incremental":
            w(f"  {k:<32} {v:14.4f} {PER_LAYER[k][0]}\n")
    if rec["trace"]:
        for k, v in rec["metrics"].items():
            w(f"  {k:<32} {v:14.4f} {units[k]}\n")
    for f in rec["failed_ops"]:
        w(f"FAILED {f['name']}: {f['error']}\n")
    for k in rec["known_defects"]:
        w(f"known defect, not gated: {k['name']} cycle {k['cycle']}: "
          f"{'matched its oracle' if k['ok'] else k['error']}\n")


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout of the repository. Starts Spark
``local[N]`` (N = usable cores), sets up the workload several times and
keeps the median set-up time, then runs operations one at a time for
``--seconds`` seconds, checking every output. The last line of standard
output is one JSON object: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Metric names and units come from
``BENCHMARK.json``. A fuller record (host state, tail percentile, every
latency, and in the traced run every span) goes to
``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import probes
import workloads
from spans import Recorder

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) for the highest percentile
    that leaves at least 10 samples above it. With fewer than 20 samples
    that percentile would lie below the median, so the median is used."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return statistics.median(xs), 50.0, n // 2
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def end_to_end(wl, setup_s: float, ops, peak_rss_mb: float) -> dict:
    busy = sum(op.latency_s for op in ops)
    lat = [op.latency_s for op in ops]
    return {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail(lat)[0],
        "rows_per_s": sum(op.rows for op in ops) / busy,
        "ops_per_s": len(ops) / busy,
        "stored_bytes_per_row": wl.stored_bytes_per_row,
        "peak_rss_mb": peak_rss_mb,
    }


def loop(wl, ctx, until: float, alternate: bool = False):
    """Run operations 0, 1, ... until ``until``, then to the end of the
    round, so every kind of operation runs equally often. With
    ``alternate`` every other operation is traced (spans and probes), so
    traced and untraced operations share the same stretch of the run."""
    ops = []
    while not ops or time.perf_counter() < until or len(ops) % len(wl.KINDS):
        traced = alternate and len(ops) % 2 == 1
        ctx.rec.enabled = traced
        t = time.perf_counter()
        try:
            op = wl.run_op(ctx, len(ops), traced)
        except Exception:  # a failed operation is counted, and the loop goes on
            traceback.print_exc()
            op = workloads.Op("error", "", time.perf_counter() - t, 0, False)
        op.traced = traced
        ops.append(op)
    return ops


def trace_overhead(ops) -> float:
    """Median over kinds of (median traced iteration, operation plus
    probes) minus (median untraced operation)."""
    diffs = []
    for kind in {op.kind for op in ops if op.traced and op.layer}:
        plain = [op.latency_s for op in ops if op.kind == kind and not op.traced]
        traced = [op.layer["iteration_s"] for op in ops
                  if op.kind == kind and op.traced and op.layer]
        if plain:
            diffs.append(statistics.median(traced) - statistics.median(plain))
    return statistics.median(diffs) if diffs else 0.0


def start_session(work: str, nproc: int):
    from zarr_datafusion_search_spark.engine import build_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    spark = build_session(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, sampler) -> None:
    """Stop Spark and the JVM, and wait for the JVM's Python workers."""
    from pyspark import SparkContext

    sampler.sample()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while sampler.descendants and time.time() < deadline:
        sampler.descendants = {p for p in sampler.descendants if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


def run(args, work: str) -> tuple[dict, dict]:
    from zarr_datafusion_search_spark.benchutil import cpu_stat_snapshot

    wl = {c.name: c for c in (workloads.Scan, workloads.Pipeline)}[args.workload]()
    traced = bool(args.trace)
    rec = Recorder(enabled=traced)
    nproc = probes.cpu_count()
    cpu0 = cpu_stat_snapshot()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host_start": probes.host_stamp(None)}
    with probes.RssSampler() as sampler:
        t0 = time.perf_counter()
        with rec.span("engine.session"):
            spark = start_session(work, nproc)
        session_s = time.perf_counter() - t0
        try:
            ctx = workloads.Ctx(spark, args.seed, work, rec, nproc)
            if traced:
                ctx.probe = probes.SparkProbe(spark)
                ctx.meta_reads = probes.MetadataReads()
            wl.prepare(ctx)
            reps, warm = [], []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                with rec.span("setup"):
                    warm += wl.setup(ctx, rep)
                reps.append(time.perf_counter() - t)
            warm += wl.warm(ctx)
            setup_s = session_s + statistics.median(reps)
            t = time.perf_counter()
            ops = loop(wl, ctx, t + args.seconds, alternate=traced)
            measured_s = time.perf_counter() - t
            rec.enabled = traced
            layer = wl.layer_metrics(ctx, ops) if traced else {}
            wl.close(ctx)
        finally:
            stop_session(spark, sampler)
    every = warm + ops
    failed = sum(not op.ok for op in every)
    e2e = end_to_end(wl, setup_s, ops, sampler.peak["total"])
    _, pct, beyond = tail([op.latency_s for op in ops])
    record.update({
        "host_end": probes.host_stamp(cpu0),
        "setup_reps_s": reps, "session_s": session_s, "measured_s": measured_s,
        "attempted": len(every), "failed": failed, "failed_frac": failed / len(every),
        "latency_tail_pct": pct, "latency_tail_beyond": beyond, "ops": len(ops),
        "latencies_s": [[op.kind, op.latency_s, op.ok] for op in ops],
        "end_to_end": e2e,
    })
    if traced:
        layer.update({
            "engine.session_s": session_s,
            "zarr_table.open_s": statistics.median(rec.totals("zarr_table.open") or [0.0]),
            "trace.overhead_s": trace_overhead(ops),
            **{f"process.peak_rss_mb.{k}": sampler.peak[k] for k in ("driver", "jvm", "workers")},
        })
        record["per_layer"] = layer
        rec.dump(os.path.join(HERE, ".work", "results",
                              f"trace-{args.workload}-seed{args.seed}.json"), {"record": record})
    return (layer if traced else e2e), record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["scan", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "zarr_datafusion_search_spark", "__init__.py")):
        print(f"perfbench: no zarr_datafusion_search_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    # Python workers import the package from this checkout
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(HERE, ".work", "results"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher and the driver) keeps its temp files in the
    # work dir and writes no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    try:
        values, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    with open(os.path.join(HERE, ".work", "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    host = record["host_end"]
    print(f"# {args.workload} seed={args.seed} nproc={host['nproc']} loadavg={host['loadavg']} "
          f"steal_pct={host['steal_pct']} ops={record['ops']} attempted={record['attempted']} "
          f"failed={record['failed']} failed_frac={record['failed_frac']:.4f} "
          f"tail=p{record['latency_tail_pct']:.1f} ({record['latency_tail_beyond']} beyond)")
    for name, m in metrics.items():
        print(f"#   {name:42s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

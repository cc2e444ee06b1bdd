"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process is one run: it starts a
local[4] session, builds the workload's inputs from --seed, warms up,
drives a single closed-loop client for --seconds (whole cycles), checks
every output, and prints diagnostics followed by one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything the run writes goes under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "fb_ads_bigquery_etl_spark"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "stored_bytes_per_row": "B/row",
}
OP_KINDS = ("run_daily", "append", "delete", "query_batch", "compact")
SPARK_COUNTERS = {
    "spark.jobs_per_op": ("jobs", "count"),
    "spark.stages_per_op": ("stages", "count"),
    "spark.tasks_per_op": ("tasks", "count"),
    "spark.task_busy_s_per_op": ("task_busy_s", "s"),
    "spark.shuffle_bytes_per_op": ("shuffle_bytes", "B"),
    "spark.io_bytes_per_op": ("io_bytes", "B"),
    "driver.gap_s_per_op": ("driver_gap_s", "s"),
}
SPAN_METRICS = (
    "session.start_s",
    "pipelines.run_daily_s",
    "normalize.flatten_s",
    "dedup.keep_first_s",
    "sinks.append_s",
    "sinks.read_table_s",
    "quality.duplicate_key_count_s",
    "analytics.row_count_s",
    "analytics.freshness_s",
    "similarity.train_centroids_s",
    "pq.build_s",
    "pq.append_s",
    "pq.delete_s",
    "pq.query_batch_s",
    "pq.stats_s",
    "pq.compact_s",
)
COUNT_METRICS = {
    "sources.read_s": "s",
    "sources.pages_per_op": "count",
    "sources.fetch_amplification": "ratio",
    "sources.failed_partitions_per_op": "count",
    "dedup.rows_out_per_in": "ratio",
    "sinks.files_written_per_op": "count",
    "sinks.bytes_written_per_op": "B",
    "sinks.table_files": "count",
    "pq.code_files": "count",
    "pq.tombstone_files": "count",
    "pq.sidecar_bytes": "B",
}


def per_layer_units() -> dict[str, str]:
    units = {name: "s" for name in SPAN_METRICS}
    units.update(COUNT_METRICS)
    for name, (_, unit) in SPARK_COUNTERS.items():
        for kind in OP_KINDS:
            units[f"{name}.{kind}"] = unit
    return units


def io_probe(work: str) -> float:
    """The disk unit of bench._io_probe (64 MB write, fsync, read back).
    bench._io_probe writes to a fixed /tmp; the benchmark writes only
    inside its checkout, so the same unit runs in the run's directory."""
    buf = bytes(range(256)) * (64 * 1024 * 1024 // 256)
    path = os.path.join(work, "io_probe.bin")
    t0 = time.perf_counter()
    with open(path, "w+b") as fh:
        fh.write(buf)
        fh.flush()
        os.fsync(fh.fileno())
        fh.seek(0)
        n = sum(len(c) for c in iter(lambda: fh.read(8 * 1024 * 1024), b""))
    os.remove(path)
    if n != len(buf):
        raise RuntimeError("io probe read back a truncated buffer")
    return round(time.perf_counter() - t0, 3)


def isolate_environment(work: str) -> None:
    """Make the run independent of the caller's environment: no
    SPARK_GRAFT_* knob reaches the program, Python workers can import the
    package from any working directory, and temporary files stay in `work`."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def start_spark(work: str):
    from fb_ads_bigquery_etl_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until it exits:
    the gateway JVM ends when its stdin pipe closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)


def settle(spark) -> None:
    """End of set-up: collect the warm-up's garbage on both sides of py4j
    and give asynchronous block cleanup a moment, so that its pauses do
    not land in the first timed ops (the same reason bench.py calls
    System.gc() between queries)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)


def drain_listener(spark) -> None:
    """Wait until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def run(args, work: str, trace_dir: str) -> dict:
    import bench
    import spans as tr
    from workloads import make

    diag: dict = {"workload": args.workload, "seed": args.seed}
    diag["speed_probe_before_s"] = bench._speed_probe()
    diag["io_probe_before_s"] = io_probe(work)

    tracer = tr.Tracer(args.trace)
    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_spark(work)
    try:
        workload = make(args.workload, args.tiny, spark, work, args.seed, tracer, args.trace)
        workload.setup()
        settle(spark)
        counters = tr.SparkCounters(spark) if args.trace else None
        if counters:
            drain_listener(spark)
            counters.skip()
        setup_s = time.perf_counter() - t_setup

        # closed loop, one client. Whole cycles keep the op mix fixed; a
        # new cycle starts only while that brings the timed op time
        # nearer to --seconds, judged by the length of the last cycle.
        lat: list[float] = []
        kinds: list[str] = []
        per_op: list[dict] = []
        failed = 0
        while True:
            cycle_start = sum(lat)
            for op in workload.cycle():
                op_id = len(lat)
                w0 = time.time()
                t0 = time.perf_counter()
                try:
                    with tracer.span(op.kind, op_id=op_id):
                        res = op.run()
                    err = None
                except Exception as exc:  # counted as a failed op
                    res, err = None, exc
                lat.append(time.perf_counter() - t0)
                kinds.append(op.kind)
                if counters:
                    drain_listener(spark)
                    per_op.append(counters.collect(w0, time.time()))
                if err is not None:
                    traceback.print_exception(err, file=sys.stderr)
                    failed += 1
                elif not op.check(res):
                    print(f"check failed: {op.kind} op {op_id}", file=sys.stderr)
                    failed += 1
                if counters:
                    drain_listener(spark)
                    counters.skip()
            if sum(lat) + (sum(lat) - cycle_start) / 2 >= args.seconds:
                break
        with tracer.span("final_check"):
            final_ok = workload.final_check()
        if not final_ok:
            print("final state check failed: every timed op counts as failed", file=sys.stderr)
            failed = len(lat)
        stored = workload.stored_bytes_per_row()
        layer_end = workload.layer_end() if args.trace else {}
    finally:
        stop_spark(spark)

    diag["speed_probe_after_s"] = bench._speed_probe()
    diag["io_probe_after_s"] = io_probe(work)
    wall = sum(lat)
    by_kind = {k: [t for t, kk in zip(lat, kinds) if kk == k] for k in dict.fromkeys(kinds)}
    diag.update(
        ops=len(lat),
        timed_wall_s=round(wall, 3),
        op_tail=tr.tail(lat),
        latency_by_kind={k: round(statistics.median(v), 3) for k, v in by_kind.items()},
        # warm-up check per op kind: median of the later half of its
        # timed ops / median of the earlier half; 1.0 on the plateau
        drift_second_over_first_half={
            k: round(statistics.median(v[len(v) // 2:]) / statistics.median(v[: len(v) // 2]), 3)
            for k, v in by_kind.items() if len(v) >= 2
        },
    )
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(lat) / wall,
        "op_p50_s": statistics.median(lat),
        "stored_bytes_per_row": stored,
    }
    result = {
        "correct": failed == 0 and final_ok,
        "attempted": len(lat),
        "failed": failed,
    }
    if args.trace:
        diag["traced_end_to_end"] = {k: round(v, 4) for k, v in e2e.items()}
        layer = layer_metrics(tracer, per_op, kinds, layer_end)
        print_layer_table(tracer, layer)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        units = per_layer_units()
        result["metrics"] = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        result["metrics"] = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print("diagnostics " + json.dumps(diag))
    return result


def timed_or_all(tracer, name: str) -> list:
    """Spans of `name` inside timed ops, or all of them for spans that
    only occur outside ops (set-up, final check)."""
    sp = tracer.by_name(name)
    return [s for s in sp if s.op_id is not None] or sp


def layer_metrics(tracer, per_op, kinds, layer_end) -> dict[str, float]:
    """Per-layer metrics of the layers this workload called."""
    import spans as tr

    selfs = tracer.self_times()
    out: dict[str, float] = {}
    for name in SPAN_METRICS:
        sp = timed_or_all(tracer, name[: -len("_s")])
        if sp:
            out[name] = tr.p50([selfs[s.sid] for s in sp])
    for name, (key, _) in SPARK_COUNTERS.items():
        for kind in OP_KINDS:
            vals = [c[key] for c, k in zip(per_op, kinds) if k.endswith("." + kind)]
            if vals:
                out[f"{name}.{kind}"] = statistics.fmean(vals)
    # busy time of the jobs submitted inside normalize.flatten: the
    # action-type discovery collect is the one job that pulls the source
    reads = [
        sum(b for ts, b in per_op[s.op_id]["job_busy"] if s.start <= ts <= s.end)
        for s in tracer.by_name("normalize.flatten")
        if s.op_id is not None
    ]
    if reads:
        out["sources.read_s"] = tr.p50(reads)
    out.update(layer_end)
    return out


def print_layer_table(tracer, layer: dict) -> None:
    import spans as tr

    selfs = tracer.self_times()
    print(f"{'span':30} {'n':>4} {'p50_s':>8} {'self_p50_s':>10} {'tail_s':>14}")
    for name in sorted({s.name for s in tracer.spans}):
        sp = timed_or_all(tracer, name)
        dur = [s.duration for s in sp]
        t = tr.tail(dur)
        tail = f"p{t[0]}={t[1]:.3f}" if t else "n<=10"
        print(f"{name:30} {len(sp):>4} {tr.p50(dur):>8.3f} "
              f"{tr.p50([selfs[s.sid] for s in sp]):>10.3f} {tail:>14}")
    for k in sorted(layer):
        print(f"  {k:42} {layer[k]:.4f}")


def main(argv=None) -> int:
    from workloads import WORKLOADS  # noqa: F401  (fails fast outside a checkout)

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest sizes and warm-up; for smoke tests only")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a checkout",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    trace_dir = os.path.join(base, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    isolate_environment(work)
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work, trace_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

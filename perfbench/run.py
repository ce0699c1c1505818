"""Candle-engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The engine is imported from that checkout
and its Spark session keeps every file under ``.perfbench/`` there. The last
line of standard output is the JSON result; the lines before it are the
human-readable report. ``--trace 1`` runs the same workload with module
boundary spans on and prints the per-layer metrics instead of the
end-to-end ones. Exit code 0 means the run was valid and every output
matched the reference.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
CORES = len(os.sched_getaffinity(0))


def _import_engine():
    sys.path.insert(0, ROOT)
    try:
        import stock_chart_kafka_streams_spark as engine
    except ImportError as exc:
        sys.exit(f"perfbench: the engine package is not in {ROOT}: {exc}")
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: engine imported from {engine.__file__}, not from {ROOT}")


def start_session(work: str, cores: int):
    """The engine's session factory at ``local[cores]``, with Spark's
    scratch space, temp files and time zone pinned inside ``work``."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(
        TZ="UTC",
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_SUBMIT_ARGS=shlex.join([
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp"
            " -Duser.timezone=UTC -XX:-UsePerfData",
            "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
            # keep every job's status for the traced run's job counts
            "--conf", "spark.ui.retainedJobs=100000",
            "pyspark-shell",
        ]),
    )
    time.tzset()
    from stock_chart_kafka_streams_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- statistics --------------------------------------------------------------
def tail(values: list) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer samples."""
    v = sorted(values)
    if len(v) <= 10:
        return v[-1], 100.0
    k = len(v) - 11
    return v[k], 100.0 * (k + 1) / len(v)


def median(values: list) -> float:
    return statistics.median(values) if values else float("nan")


def end_to_end(res) -> dict:
    lat = [r.latency_s * 1000 for r in res.reads]
    tail_ms, tail_pct = tail(lat)
    res.info.update(reads=len(lat), read_tail_pct=round(tail_pct, 1),
                    write_samples=len(res.write_s))
    return {
        "setup_s": (res.setup_s, "s"),
        "trades_per_s": (res.trades_per_s, "1/s"),
        "write_p50_s": (median(res.write_s), "s"),
        "read_p50_ms": (median(lat), "ms"),
        "read_tail_ms": (tail_ms, "ms"),
        "reads_per_s": (len(lat) / res.read_window_s, "1/s"),
    }


def per_kind_p50(res) -> dict:
    """The read split by kind: p50 ms per kind of read."""
    out = {}
    for kind in ("range", "point", "recent"):
        lat = [r.latency_s * 1000 for r in res.reads if r.kind == kind]
        if lat:
            out[f"{kind}_p50_ms"] = round(median(lat), 3)
    return out


# -- per-layer -----------------------------------------------------------------
SINK_LISTING = ("minute_partition_dates", "read_partition_dirs", "recover_publish_crash")
SINK_PUBLISH = ("_publish_partitions", "_extend_symbols_sidecar")
STORE_KINDS = {"get_candles": "range", "point_row": "point", "recent_rows": "recent"}


def per_layer(tracer, res, wall_s: float) -> tuple[dict, dict]:
    """(gated per-layer metrics every workload has, streaming-only and
    diagnostic figures for the report and trace file)."""
    kids = tracer.children_s()
    by_id = {s.id: s for s in tracer.spans}
    # write-side figures cover the timed window only, as the end-to-end ones
    spans = [s for s in tracer.spans if s.t0 >= res.timed_from]

    def dur(s):
        return (s.t1 - s.t0) * 1000

    def named(*names):
        return sorted((s for s in spans if s.name in names), key=lambda s: s.t0)

    hooks = named("cascade_hook")
    builds = named("write_candles")

    def root(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    # write units: cascade triggers that called into a layer (a trigger that
    # closed no window returns before the sink), or full builds without them
    busy_hooks = {by_id[s.parent].id for s in spans
                  if s.parent is not None and by_id[s.parent].name == "cascade_hook"}

    def per_unit(keep) -> float:
        """Median over write units of the time spent in spans ``keep``
        selects; spans under a read never count."""
        picked = [s for s in spans if keep(s) and root(s).layer != "plans.query_api"]
        if not busy_hooks:
            return median([dur(s) for s in picked])
        totals = dict.fromkeys(busy_hooks, 0.0)
        for s in picked:
            r = root(s).id
            if r in totals:
                totals[r] += dur(s)
        return median(list(totals.values()))

    def sink_top(s):
        return s.layer == "streaming.sink" and (
            s.parent is None or by_id[s.parent].layer != "streaming.sink")

    executed = [p for p in res.progress if "addBatch" in p["durationMs"]]
    if executed:
        src_ms = median([p["durationMs"].get("latestOffset", 0)
                         + p["durationMs"].get("getBatch", 0) for p in executed])
    else:
        src_ms = median([dur(s) for s in named("read_trades_parquet")])
    reads = [s for s in spans if s.layer == "plans.query_api" and s.parent is None]
    by_rid = {s.attrs.get("req"): s for s in reads}
    http_self = [r.latency_s * 1000 - dur(by_rid[r.rid])
                 for r in res.reads + res.other_reads if r.rid in by_rid]
    usage = _usage(wall_s)
    gated = {
        "sources.read_ms": (src_ms, "ms"),
        "operators.candles_ms": (per_unit(lambda s: s.layer == "operators.candles"), "ms"),
        "sink.self_ms": (per_unit(sink_top), "ms"),
        "sink.version_ms": (per_unit(lambda s: s.name == "_bump_table_version"), "ms"),
        "query_api.jobs_per_read": (
            sum(s.attrs.get("jobs", 0) for s in reads) / max(len(reads), 1), "count"),
        "query_api.cache_hit_ratio": (
            sum(s.attrs.get("jobs", 0) == 0 for s in reads) / max(len(reads), 1), "ratio"),
        "query_api.stale_retries": (sum(s.attrs.get("failed_jobs", 0) for s in reads), "count"),
        "http.self_ms": (median(http_self), "ms"),
        "process.peak_rss_mb": (usage["peak_rss_mb"], "MB"),
        "process.cpu_util": (usage["cpu_util"], "ratio"),
        "trace.overhead_pct": (100 * tracer.overhead_s / wall_s, "%"),
    }
    for name, kind in STORE_KINDS.items():
        gated[f"query_api.{kind}_ms"] = (median([dur(s) for s in reads if s.name == name]), "ms")
    info = {"query_api.reads": len(reads), "write_units": len(busy_hooks) or len(builds)}
    if hooks:
        data = [p for p in executed if p["numInputRows"] > 0]
        empty = [p for p in executed if p["numInputRows"] == 0]
        trig = sum(p["durationMs"]["triggerExecution"] for p in executed)

        def spark_part(*keys):
            return [sum(p["durationMs"].get(k, 0) for k in keys) for p in executed]

        source = spark_part("latestOffset", "getBatch")
        commit = spark_part("walCommit", "commitOffsets")
        # triggers and hook calls pair up in order; the hook span is its self
        # time plus its sink and operator children, timed by the tracer
        hook_ms = [dur(s) for s in hooks]
        hand_off = [p["durationMs"]["addBatch"] - h for p, h in zip(executed, hook_ms)]
        state = [op for p in executed for op in p.get("stateOperators", [])]
        info.update({
            "sources.rows_per_trigger": statistics.mean(p["numInputRows"] for p in executed),
            "pipeline.trigger_ms": median([p["durationMs"]["triggerExecution"] for p in executed]),
            "pipeline.hook_self_ms": median([dur(s) - 1000 * kids.get(s.id, 0.0) for s in hooks]),
            "pipeline.commit_ms": median(commit),
            "pipeline.jobs_per_trigger": statistics.mean(s.attrs.get("jobs", 0) for s in hooks),
            "pipeline.triggers_per_file": len(executed) / max(len(data), 1),
            "pipeline.empty_trigger_ms": median([p["durationMs"]["triggerExecution"]
                                                 for p in empty]),
            "pipeline.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "pipeline.state_mb": state[-1]["memoryUsedBytes"] / 1e6 if state else 0.0,
            "pipeline.rows_dropped_late": sum(op.get("numRowsDroppedByWatermark", 0)
                                              for op in state),
            "sink.listing_ms": per_unit(lambda s: s.name in SINK_LISTING),
            "sink.publish_ms": per_unit(lambda s: s.name in SINK_PUBLISH),
            # the layers' sum: source + hook (self + sink + operators) + commit,
            # each measured on its own, against triggerExecution
            "trace.layer_sum_pct": 100 * (sum(source) + sum(hook_ms) + sum(commit))
            / max(trig, 1),
            # what the layers leave out: Spark's planning and the addBatch
            # time outside the hook
            "pipeline.planning_ms": median(spark_part("queryPlanning")),
            "pipeline.foreach_handoff_ms": median(hand_off),
            "trace.triggers": len(executed),
            "trace.hooks": len(hooks),
        })
    if builds and not hooks:
        info["sink.write_candles_s"] = median([dur(s) / 1000 for s in builds])
    return gated, info


def _usage(wall_s: float) -> dict:
    me = resource.getrusage(resource.RUSAGE_SELF)
    kids = resource.getrusage(resource.RUSAGE_CHILDREN)  # the JVM, once it exited
    cpu = me.ru_utime + me.ru_stime + kids.ru_utime + kids.ru_stime
    return {"peak_rss_mb": (me.ru_maxrss + kids.ru_maxrss) / 1024,
            "cpu_util": cpu / (wall_s * CORES)}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) host CPU ticks; steal is time the hypervisor ran
    someone else while this machine wanted the CPU."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _cpu_calibration_ms() -> float:
    """Best of three runs of a fixed pure-Python loop: tracks how fast the
    host runs this process, to tell host drift from program change."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t0)
    return best * 1000


def _number(v: float) -> float:
    return float(v) if v == v else -1.0  # NaN: no sample (reported as -1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _import_engine()
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    calib_ms = _cpu_calibration_ms()
    t_start = time.perf_counter()
    ticks0 = _cpu_ticks()
    spark = start_session(work, CORES)
    session_s = time.perf_counter() - t_start
    tracer = None
    try:
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.install()
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, session_s)
        res = workloads.WORKLOADS[args.workload](ctx)
        if tracer is not None:
            tracer.uninstall()
            tracer.count_jobs()
            if args.workload == "ingest_drain":
                spark = _single_core_baseline(spark, ctx, res)
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    wall_s = time.perf_counter() - t_start
    ticks1 = _cpu_ticks()
    res.info["host.cpu_calib_ms"] = calib_ms
    res.info["host.steal_pct"] = 100 * (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)

    e2e = end_to_end(res)
    res.info.update(per_kind_p50(res))
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={CORES} wall_s={wall_s:.1f}")
    for name, (v, unit) in e2e.items():
        print(f"  {name:<28} {v:>14.4f} {unit}")
    if tracer is not None:
        gated, info = per_layer(tracer, res, wall_s)
        res.info.update(info)
        metrics = gated
        for name, (v, unit) in gated.items():
            print(f"  {name:<28} {v:>14.4f} {unit}")
        os.makedirs(WORK_ROOT, exist_ok=True)
        out = os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.jsonl")
        tracer.dump(out, {"workload": args.workload, "seed": args.seed, "info": res.info,
                          "progress": res.progress})
        print(f"  spans written to {os.path.relpath(out, ROOT)}")
    else:
        metrics = e2e
    for k, v in sorted(res.info.items()):
        print(f"  info {k} = {v:.4f}" if isinstance(v, float) else f"  info {k} = {v}")
    for msg in res.invalid:
        print(f"  INVALID {msg}")
    for msg in res.errors[:20]:
        print(f"  MISMATCH {msg}")
    correct = not res.invalid and not res.errors and res.failed == 0
    print(result_line(correct, res.attempted, res.failed, metrics))
    return 0 if correct else 1


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The final JSON line: ``metrics`` maps name -> (value, unit)."""
    return json.dumps({
        "correct": correct,
        "attempted": max(int(attempted), 1),
        "failed": int(failed),
        "metrics": {k: {"value": _number(v), "unit": u} for k, (v, u) in metrics.items()},
    })


def _single_core_baseline(spark, ctx, res):
    """The same drain at ``local[1]`` in a fresh session (information only)."""
    from perfbench import workloads

    stop_jvm(spark)
    spark = start_session(ctx.work, 1)
    one = workloads.Result()
    ctx1 = workloads.Ctx(spark, ctx.work, ctx.seed, ctx.seconds, 0.0)
    workloads.drain_once(ctx1, one, "drain1", res.info["drain_files"])
    res.info["drain_trades_per_s_local1"] = one.trades_per_s
    res.info[f"scaling.local{CORES}_over_local1"] = res.trades_per_s / one.trades_per_s
    return spark


if __name__ == "__main__":
    sys.exit(main())

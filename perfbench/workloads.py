"""The workloads. Each returns a ``Result``; run.py turns it into the
printed metrics.

All load comes from this process: the seeded generator (gen.py) plus at most
``CLIENTS`` closed-loop HTTP client threads. The engine is driven only
through its public entry points. README.md gives the source of each shape
parameter below.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import http.client
import json
import os
import shutil
import statistics
import threading
import time

import numpy as np
import pandas as pd

from stock_chart_kafka_streams_spark.operators import candles as candles_mod
from stock_chart_kafka_streams_spark.plans import http_api, query_api
from stock_chart_kafka_streams_spark.sources import trades as trades_mod
from stock_chart_kafka_streams_spark.streaming import pipeline, sink

from perfbench import gen, reference

N_SYMBOLS = 50  # the 50-symbol replay of bench.py and tools/profile_replay.py
CLIENTS = 2
GEN_REPS = 3  # input generation is repeated and its median reported

DRAIN_TRADES = 25_000  # trades per backlog file (README.md gives the source)
DRAIN_WARM_FILES = 4  # trigger time still falls over the first 3 publishing triggers
DRAIN_NOMINAL_FILE_S = 4.0  # sizes the timed backlog: --seconds // 4 files
READ_WARM_S = 1.0  # untimed reads before each timed read window
READBACK_S = 5.0  # timed read-back of the drained table

HIST_TRADES = 400_000  # cut from about 5M to fit the time budget (README.md)
HIST_DAYS = 14
HIST_WARM_BUILDS = 2  # untimed full builds: the second is still 20-50% slow
HIST_BUILDS = 4  # timed full builds: one varies by up to 20%


@dataclasses.dataclass
class Read:
    kind: str
    path: str
    status: int
    body: bytes
    latency_s: float
    meta: tuple
    rid: str = ""  # pbid query parameter, matched to the traced store span


@dataclasses.dataclass
class Result:
    setup_s: float = 0.0
    trades_per_s: float = 0.0
    write_s: list = dataclasses.field(default_factory=list)
    reads: list = dataclasses.field(default_factory=list)
    other_reads: list = dataclasses.field(default_factory=list)  # checks, not timed
    read_window_s: float = 1.0
    attempted: int = 0
    failed: int = 0
    errors: list = dataclasses.field(default_factory=list)
    invalid: list = dataclasses.field(default_factory=list)
    info: dict = dataclasses.field(default_factory=dict)
    progress: list = dataclasses.field(default_factory=list)  # timed triggers
    timed_from: float = 0.0  # perf_counter at the end of the write warm-up

    def fail(self, messages: list, ops: int = 0) -> None:
        self.attempted += ops
        self.failed += len(messages)
        self.errors.extend(messages)


class Ctx:
    def __init__(self, spark, work: str, seed: int, seconds: float, session_s: float):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.session_s = session_s

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)


# -- HTTP ------------------------------------------------------------------
def http_get(port: int, path: str) -> tuple[int, bytes, float]:
    t0 = time.perf_counter()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            body = resp.read()
            status = resp.status
        finally:
            conn.close()
    except OSError as exc:
        status, body = 0, repr(exc).encode()
    return status, body, time.perf_counter() - t0


def iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def minute_at(m: float) -> dt.datetime:
    return gen.EPOCH + dt.timedelta(minutes=m)


class RandomReads:
    """Range, point and now-anchored recent reads at uniform times in
    ``[lo_min, hi_min)`` for Zipf-skewed symbols, so almost every read
    misses the store's LRU. The ``i``-th read of a client takes its kind
    and frame in rotation, so every run reads the same mix."""

    KINDS = ("range", "point", "recent")

    def __init__(self, lo_min: int, hi_min: int, hour_range: bool):
        self.lo, self.hi, self.hour_range = lo_min, hi_min, hour_range
        self.syms = gen.symbols(N_SYMBOLS)
        self.weights = gen.zipf_weights(N_SYMBOLS)

    def __call__(self, rng, i: int) -> tuple[str, str, tuple]:
        sym = self.syms[rng.choice(N_SYMBOLS, p=self.weights)]
        m = int(rng.integers(self.lo, self.hi))
        t = minute_at(m)
        kind = self.KINDS[i % 3]
        hourly = (i // 3) % 2 == 0
        if kind == "range":
            frame = "HOUR" if hourly and self.hour_range else "MINUTE"
            span = dt.timedelta(days=1) if frame == "HOUR" else dt.timedelta(minutes=59)
            lo, hi = t, t + span
            return kind, f"/api/charts/{sym}?frame={frame}&from={iso(lo)}&to={iso(hi)}", (
                sym, frame, lo, hi)
        if kind == "point":
            frame = "HOUR" if hourly else "MINUTE"
            if frame == "HOUR":
                t = t.replace(minute=0)
            q = f"year={t.year}&month={t.month}&day={t.day}&hour={t.hour}&minute={t.minute}"
            return kind, f"/api/charts/point/{sym}?frame={frame}&{q}", (sym, frame, t)
        now = t + dt.timedelta(seconds=int(rng.integers(60)))
        return kind, f"/api/charts/recent/{sym}?frame=MINUTE&minutes=60&now={iso(now)}", (
            sym, "MINUTE", now)


def closed_loop(port: int, make, seconds: float, seed: int, tag: str) -> list[Read]:
    """``CLIENTS`` closed-loop clients for ``seconds``; returns every read."""
    out: list[Read] = []
    lock = threading.Lock()
    stop_at = time.perf_counter() + seconds

    def client(c: int):
        rng = np.random.default_rng([seed, c, 0xC11E])
        mine, i = [], 0
        while time.perf_counter() < stop_at:
            kind, path, meta = make(rng, i)
            sep = "&" if "?" in path else "?"
            rid = f"{tag}{c}-{i}"
            status, body, lat = http_get(port, f"{path}{sep}pbid={rid}")
            mine.append(Read(kind, path, status, body, lat, meta, rid))
            i += 1
        with lock:
            out.extend(mine)

    threads = [threading.Thread(target=client, args=(c,), name=f"perfbench-client-{c}")
               for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def timed_reads(res: Result, port: int, make, seconds: float, seed: int, tag: str) -> list[Read]:
    """Untimed warm-up reads (counted in set-up), then ``seconds`` of timed
    reads. Returns the warm-up reads, which are checked like the rest."""
    t0 = time.perf_counter()
    warm = closed_loop(port, make, READ_WARM_S, seed + 1_000_003, f"w{tag}")
    res.setup_s += time.perf_counter() - t0
    res.reads = closed_loop(port, make, seconds, seed, tag)
    res.read_window_s = seconds
    return warm


def check_reads(reads: list[Read], ref: reference.Reference) -> list[str]:
    """Every read against the reference; identical reads are compared once
    and a wrong body counts once per read that carried it."""
    errors: list[str] = []
    seen: dict = {}
    for r in reads:
        key = (r.kind, r.meta, r.status, r.body)
        if key not in seen:
            seen[key] = _check_read(r, ref)
        errors += seen[key]
    return errors


def _check_read(r: Read, ref: reference.Reference) -> list[str]:
    where = f"{r.kind} {r.path}"
    if r.kind == "point":
        sym, frame, t = r.meta
        body = json.loads(r.body) if r.status in (200, 404) else None
        return reference.check_point(r.status, body, ref.get(sym, frame, t), where)
    if r.status != 200:
        return [f"{where}: status {r.status} {r.body[:200]!r}"]
    body = json.loads(r.body)
    if r.kind == "range":
        sym, frame, lo, hi = r.meta
        return reference.check_json(body, ref.range(sym, frame, lo, hi), where)
    sym, frame, now = r.meta
    return reference.check_json(body, ref.recent(sym, frame, 60, now), where)


def read_table(path: str) -> pd.DataFrame:
    """The serving table read with pyarrow (hidden ``.``/``_`` paths are
    skipped, as Spark skips them)."""
    return pd.read_parquet(path)


def generate_median(render) -> tuple[float, object]:
    """Run ``render`` ``GEN_REPS`` times; return the median time and the
    last result."""
    times, out = [], None
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        out = render()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def serve(ctx: Ctx, table: str):
    store = query_api.CandleStore.from_path(ctx.spark, table, point_cache_size=4096)
    server, url = http_api.serve_in_background(store)
    return server, int(url.rsplit(":", 1)[1])


def stop_server(server) -> None:
    server.shutdown()
    server.server_close()


def _progress(q) -> list:
    return [json.loads(p.json) for p in q.recentProgress]


def _dropped(progress: list) -> int:
    return sum(op.get("numRowsDroppedByWatermark", 0)
               for p in progress for op in p.get("stateOperators", []))


# -- ingest_drain ----------------------------------------------------------
def drain_once(ctx: Ctx, res: Result, tag: str, timed_files: int):
    """Untimed warm-up drain, then the timed drain of ``timed_files`` more
    files and a heartbeat file, each by ``start_candle_pipeline(
    available_now=True)`` one file per trigger."""
    spark = ctx.spark
    src, pending = ctx.path(tag, "src"), ctx.path(tag, "pending")
    table, ckpt = ctx.path(tag, "table"), ctx.path(tag, "ckpt")
    warm = range(DRAIN_WARM_FILES)
    timed = range(DRAIN_WARM_FILES, DRAIN_WARM_FILES + timed_files)

    def render():
        shutil.rmtree(pending, ignore_errors=True)
        b = gen.Backlog(pending, ctx.seed, N_SYMBOLS, DRAIN_TRADES)
        b.write(warm)
        n = b.write(timed, heartbeat=True)
        return b, n

    gen_s, (backlog, timed_trades) = generate_median(render)
    os.makedirs(src)

    def release(minutes):
        for m in minutes:
            name = f"m{m:06d}.json"
            os.replace(os.path.join(pending, name), os.path.join(src, name))

    t0 = time.perf_counter()
    release(warm)
    stream = trades_mod.read_trades_json_stream(spark, src, max_files_per_trigger=1)
    q = pipeline.start_candle_pipeline(stream, table, ckpt, available_now=True)
    q.awaitTermination()
    warm_progress = _progress(q)
    res.setup_s = ctx.session_s + gen_s + (time.perf_counter() - t0)
    res.info.update({"setup.session_s": ctx.session_s, "setup.gen_s": gen_s,
                     "setup.warm_write_s": time.perf_counter() - t0})

    release(range(timed.start, timed.stop + 1))  # + heartbeat
    t0 = res.timed_from = time.perf_counter()
    q = pipeline.start_candle_pipeline(stream, table, ckpt, available_now=True)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    progress = res.progress = _progress(q)
    res.trades_per_s = timed_trades / wall
    # every trigger that closed windows published candles
    res.write_s = [p["durationMs"]["triggerExecution"] / 1000 for p in progress
                   if any(op["numRowsRemoved"] for op in p["stateOperators"])]
    res.info.update(drain_wall_s=wall, drain_files=timed_files, drain_trades=timed_trades,
                    drain_triggers=len(progress),
                    triggers_s=" ".join(f"{p['durationMs']['triggerExecution'] / 1000:.3f}"
                                        for p in warm_progress + progress))
    res.attempted += len(warm) + timed_files
    dropped = _dropped(warm_progress + progress)
    if dropped:
        res.invalid.append(f"ingest_drain: numRowsDroppedByWatermark = {dropped}")
    return table, backlog


def ingest_drain(ctx: Ctx) -> Result:
    res = Result()
    timed_files = max(2, int(ctx.seconds // DRAIN_NOMINAL_FILE_S))
    table, backlog = drain_once(ctx, res, "drain", timed_files)
    # read back the drained table over HTTP: 2 clients at random keys
    server, port = serve(ctx, table)
    try:
        span = DRAIN_WARM_FILES + timed_files
        res.other_reads = timed_reads(res, port, RandomReads(0, span, hour_range=False),
                                      READBACK_S, ctx.seed, "r")
    finally:
        stop_server(server)
    t0 = time.perf_counter()
    ref = reference.Reference(gen.with_price(pd.concat(backlog.frames)))
    res.fail(check_reads(res.reads + res.other_reads, ref),
             ops=len(res.reads) + len(res.other_reads))
    res.fail(reference.check_table(read_table(table), ref, "drained table"),
             ops=len(ref.candles))
    res.info["check_s"] = time.perf_counter() - t0
    return res


# -- history_reads ---------------------------------------------------------
def history_trades(seed: int) -> pd.DataFrame:
    """Multi-week history: Zipf-skewed symbols, uniform event times."""
    rng = np.random.default_rng([seed, 0x41570])
    n_us = HIST_DAYS * 86_400 * 1_000_000
    sym = rng.choice(N_SYMBOLS, size=HIST_TRADES, p=gen.zipf_weights(N_SYMBOLS))
    us = rng.integers(0, n_us, size=HIST_TRADES)
    df = pd.DataFrame({"sym": sym, "us": us}).drop_duplicates(["sym", "us"])
    sym, us = df["sym"].to_numpy(), df["us"].to_numpy()
    base = np.random.default_rng([seed, 0x5EED]).integers(2_000, 50_000, N_SYMBOLS)
    drift = (us // 3_600_000_000) % 97
    return pd.DataFrame({
        "symbol": np.array(gen.symbols(N_SYMBOLS))[sym],
        "price": (base[sym] + drift + rng.integers(-50, 51, size=len(sym))) / 100.0,
        "quantity": rng.integers(1, 101, size=len(sym)).astype(np.int64),
        "ts": np.datetime64(gen.EPOCH, "us") + us.astype("timedelta64[us]"),
    })


def history_reads(ctx: Ctx) -> Result:
    spark = ctx.spark
    res = Result()
    src, table = ctx.path("hist", "trades.parquet"), ctx.path("hist", "table")
    os.makedirs(ctx.path("hist"))

    def render():
        df = history_trades(ctx.seed)
        out = df.assign(ts=df["ts"].dt.tz_localize("UTC"))
        out.to_parquet(src, index=False, coerce_timestamps="us")
        return df

    gen_s, trades = generate_median(render)

    def build():
        t0 = time.perf_counter()
        sink.write_candles(
            candles_mod.multi_frame_candles(trades_mod.read_trades_parquet(spark, src)), table)
        return time.perf_counter() - t0

    warm_s = sum(build() for _ in range(HIST_WARM_BUILDS))  # untimed warm-up builds
    res.setup_s = ctx.session_s + gen_s + warm_s
    res.info.update({"setup.session_s": ctx.session_s, "setup.gen_s": gen_s,
                     "setup.warm_write_s": warm_s})
    res.timed_from = time.perf_counter()
    res.write_s = [build() for _ in range(HIST_BUILDS)]
    res.info["builds_s"] = " ".join(f"{b:.3f}" for b in res.write_s)
    # over all timed builds (a mean), where write_p50_s is their median
    res.trades_per_s = HIST_BUILDS * len(trades) / sum(res.write_s)
    res.attempted += HIST_WARM_BUILDS + HIST_BUILDS
    res.info["history_trades"] = len(trades)
    server, port = serve(ctx, table)
    try:
        res.other_reads = timed_reads(res, port, RandomReads(0, HIST_DAYS * 1440, True),
                                      ctx.seconds, ctx.seed, "h")
    finally:
        stop_server(server)
    t0 = time.perf_counter()
    ref = reference.Reference(trades)
    res.fail(check_reads(res.reads + res.other_reads, ref),
             ops=len(res.reads) + len(res.other_reads))
    res.fail(reference.check_table(read_table(table), ref, "history table"),
             ops=len(ref.candles))
    res.info["check_s"] = time.perf_counter() - t0
    return res


WORKLOADS = {"ingest_drain": ingest_drain, "history_reads": history_reads}

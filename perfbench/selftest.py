"""Tiny, Spark-free self-test of the benchmark's own parts (a few seconds).

    python3 perfbench/selftest.py

Checks that the generator is seeded and shaped as documented, that the
reference equals a plain-loop recomputation and catches a planted wrong
candle through every check path, and that every metric BENCHMARK.json names
is printed with its unit. Exit code 0 means every check passed.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from perfbench import gen, reference  # noqa: E402

FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILURES.append(what)


def test_generator() -> None:
    a = gen.minute_trades(7, 3, 6, 500)
    b = gen.minute_trades(7, 3, 6, 500)
    check(gen.json_lines(a) == gen.json_lines(b), "same seed and minute give identical files")
    check(gen.json_lines(a) != gen.json_lines(gen.minute_trades(8, 3, 6, 500)),
          "another seed gives another file")
    check(set(a["symbol"]) == set(gen.symbols(6)), "every symbol trades in every minute")
    counts = a["symbol"].value_counts()
    check(counts["SYM00"] > counts["SYM05"], "activity is skewed toward symbol 0")
    check(not a["ts"].is_monotonic_increasing, "rows are shuffled within the file")
    check(not a.duplicated(["symbol", "ts"]).any(), "no open/close ties within a symbol")
    lo = np.datetime64(gen.EPOCH) + np.timedelta64(3, "m")
    check(bool(((a["ts"] >= lo) & (a["ts"] < lo + np.timedelta64(1, "m"))).all()),
          "a file holds exactly one event-time minute")
    line = json.loads(gen.json_lines(a.head(1)))
    check(line["price"] == a["cents"].iloc[0] / 100, "written price is the exact cents / 100")
    hb = gen.heartbeat_trades(4)
    check(hb["symbol"].tolist() == [gen.HEARTBEAT], "heartbeat trade carries the marker symbol")
    with tempfile.TemporaryDirectory() as d:
        backlog = gen.Backlog(d, 7, 6, 200)
        n = backlog.write(range(2), heartbeat=True)
        names = sorted(os.listdir(d))
        check(names == ["m000000.json", "m000001.json", "m000002.json"] and n == 400,
              "backlog writes one file per minute plus the heartbeat, no temp files")


def _loop_candles(trades: pd.DataFrame) -> dict:
    """Plain-loop recomputation: the reference's reference."""
    out: dict = {}
    for r in sorted(trades.itertuples(index=False), key=lambda r: (r.symbol, r.ts)):
        ts = pd.Timestamp(r.ts)
        starts = {"MINUTE": ts.floor("min"), "HOUR": ts.floor("h"), "DAY": ts.floor("D"),
                  "MONTH": ts.replace(day=1, hour=0, minute=0, second=0, microsecond=0)}
        for frame, start in starts.items():
            c = out.get((r.symbol, frame, start))
            if c is None:
                out[(r.symbol, frame, start)] = [r.price, r.price, r.price, r.price, r.quantity]
            else:
                c[1], c[2], c[3] = max(c[1], r.price), min(c[2], r.price), r.price
                c[4] += r.quantity
    return out


def test_reference() -> None:
    frames = [gen.minute_trades(5, m, 4, 60) for m in (0, 1, 59, 60)]
    trades = gen.with_price(pd.concat(frames))
    ref = reference.Reference(trades)
    loop = _loop_candles(trades)
    got = {(r.symbol, r.time_frame, r.bucket_start): [r.open, r.high, r.low, r.close, r.volume]
           for r in ref.candles.itertuples(index=False)}
    check(got == loop, "reference equals a plain-loop recomputation (all four frames)")

    table = ref.candles.copy()
    check(reference.check_table(table, ref, "t") == [], "an exact table passes")
    planted = table.copy()
    planted.loc[planted.index[5], "close"] += 0.01
    check(len(reference.check_table(planted, ref, "t")) == 1,
          "a planted wrong close in the table is caught once")
    check(len(reference.check_table(table.drop(table.index[3]), ref, "t")) == 1,
          "a missing table row is caught")

    sym = "SYM01"
    want = ref.series(sym, "MINUTE")
    body = [{"symbol": r.symbol, "open": r.open, "high": r.high, "low": r.low, "close": r.close,
             "volume": int(r.volume), "startTime": reference._iso(r.bucket_start),
             "endTime": reference._iso(r.bucket_end)} for r in want.itertuples(index=False)]
    check(reference.check_json(body, want, "r") == [], "an exact range response passes")
    bad = [dict(c) for c in body]
    bad[1]["high"] += 1.0
    check(len(reference.check_json(bad, want, "r")) == 1, "a planted wrong high is caught")
    first = want.iloc[0]
    check(reference.check_point(200, body[0], ref.get(sym, "MINUTE", first.bucket_start), "q")
          == [], "an exact point response passes")
    check(reference.check_point(404, None, ref.get(sym, "MINUTE", "2024-03-01T00:30"), "q") == [],
          "a 404 for a really absent point is not a failure")
    check(len(reference.check_point(404, None, first, "q")) == 1,
          "a 404 for a present point is caught")


def test_metric_names() -> None:
    from perfbench import run, trace, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    res = workloads.Result(setup_s=2.0, trades_per_s=3.0, write_s=[1.0, 2.0],
                           reads=[workloads.Read("range", "/x", 200, b"[]", 0.01 * i, (), f"r{i}")
                                  for i in range(1, 30)], read_window_s=2.0)
    e2e = run.end_to_end(res)
    check({k: u for k, (_, u) in e2e.items()}
          == {m["name"]: m["unit"] for m in bench["end_to_end"]},
          "every end-to-end metric is printed with its BENCHMARK.json unit")
    check(all(v > 0 for v, _ in e2e.values()), "end-to-end metrics are non-zero")
    check(abs(e2e["read_tail_ms"][0] - 190.0) < 1e-6, "tail is the value with ten samples beyond it")

    tracer = trace.Tracer.__new__(trace.Tracer)
    tracer.spans, tracer.overhead_s = [], 0.001
    for i, (layer, name, parent) in enumerate([
            ("streaming.sink", "write_candles", None), ("streaming.sink", "_bump_table_version", 1),
            ("operators.candles", "multi_frame_candles", None), ("sources", "read_trades_parquet", None),
            ("plans.query_api", "get_candles", None), ("plans.query_api", "point_row", None),
            ("plans.query_api", "recent_rows", None)], start=1):
        s = trace.Span(i, parent, layer, name, 0.0)
        s.t1 = 0.001 * i
        s.attrs.update(jobs=1, failed_jobs=0, req=f"r{i}")
        tracer.spans.append(s)
    gated, _ = run.per_layer(tracer, res, 10.0)
    check({k: u for k, (_, u) in gated.items()}
          == {m["name"]: m["unit"] for m in bench["per_layer"]},
          "every per-layer metric is printed with its BENCHMARK.json unit")
    line = json.loads(run.result_line(True, 3, 0, e2e))
    check(set(line) == {"correct", "attempted", "failed", "metrics"}
          and all(set(v) == {"value", "unit"} for v in line["metrics"].values()),
          "the result line has exactly the contract's keys")


if __name__ == "__main__":
    test_generator()
    test_reference()
    test_metric_names()
    print(f"{len(FAILURES)} failed")
    sys.exit(1 if FAILURES else 0)

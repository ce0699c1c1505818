"""Independent candle reference: pandas/numpy only, no engine code.

Each frame is computed from raw trades (not rolled up from minutes), with
open/close taken by event time and the calendar month as a real month.
``check_*`` return a list of human-readable mismatches; empty means equal.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

FRAMES = ("MINUTE", "HOUR", "DAY", "MONTH")
_FLOOR = {"MINUTE": "min", "HOUR": "h", "DAY": "D"}
FIELDS = ("open", "high", "low", "close", "volume")


def _start(ts: pd.Series, frame: str) -> pd.Series:
    if frame == "MONTH":
        return ts.dt.to_period("M").dt.start_time.astype("datetime64[us]")
    return ts.dt.floor(_FLOOR[frame])


def _end(start: pd.Series, frame: str) -> pd.Series:
    if frame == "MONTH":
        return (start + pd.offsets.MonthBegin(1)).astype("datetime64[us]")
    return start + pd.Timedelta(1, _FLOOR[frame])


class Reference:
    """Candles of a trade set, indexed by (symbol, frame, bucket_start)."""

    def __init__(self, trades: pd.DataFrame):
        t = trades.sort_values(["symbol", "ts"], kind="stable")
        parts = []
        for frame in FRAMES:
            g = t.assign(bucket_start=_start(t["ts"], frame)).groupby(
                ["symbol", "bucket_start"], sort=True
            )
            c = pd.DataFrame(
                {
                    "open": g["price"].first(),
                    "high": g["price"].max(),
                    "low": g["price"].min(),
                    "close": g["price"].last(),
                    "volume": g["quantity"].sum().astype(np.int64),
                }
            ).reset_index()
            c["bucket_end"] = _end(c["bucket_start"], frame)
            c.insert(1, "time_frame", frame)
            parts.append(c)
        self.candles = pd.concat(parts, ignore_index=True)
        c = self.candles
        self._by_key = dict(zip(
            zip(c["symbol"], c["time_frame"], c["bucket_start"].to_numpy()), range(len(c))))
        self._series: dict = {}

    def get(self, symbol: str, frame: str, start) -> pd.Series | None:
        i = self._by_key.get((symbol, frame, np.datetime64(start, "us")))
        return None if i is None else self.candles.iloc[i]

    def series(self, symbol: str, frame: str) -> pd.DataFrame:
        key = (symbol, frame)
        if key not in self._series:
            c = self.candles
            self._series[key] = c[(c["symbol"] == symbol) & (c["time_frame"] == frame)]
        return self._series[key]

    def range(self, symbol: str, frame: str, lo, hi) -> pd.DataFrame:
        s = self.series(symbol, frame)
        return s[(s["bucket_start"] >= lo) & (s["bucket_start"] <= hi)]

    def recent(self, symbol: str, frame: str, n: int, now) -> pd.DataFrame:
        """Buckets in ``(now - n frames, now]``; MINUTE/HOUR/DAY only."""
        lo = pd.Timestamp(now) - pd.Timedelta(n, _FLOOR[frame])
        s = self.series(symbol, frame)
        return s[(s["bucket_start"] > lo) & (s["bucket_start"] <= pd.Timestamp(now))]


def _iso(ts) -> str:
    return pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%SZ")


def _row_diff(got: dict, want, where: str) -> list[str]:
    out = []
    for f in FIELDS:
        if got.get(f) != getattr(want, f):
            out.append(f"{where}: {f} {got.get(f)!r} != {getattr(want, f)!r}")
    if got.get("endTime") != _iso(want.bucket_end):
        out.append(f"{where}: endTime {got.get('endTime')} != {_iso(want.bucket_end)}")
    return out


def check_json(body: list, want: pd.DataFrame, where: str) -> list[str]:
    """An HTTP candle list must equal ``want`` row for row, in time order."""
    if len(body) != len(want):
        return [f"{where}: {len(body)} candles, reference has {len(want)}"]
    out = []
    for got, w in zip(body, want.itertuples(index=False)):
        if got.get("symbol") != w.symbol or got.get("startTime") != _iso(w.bucket_start):
            out.append(f"{where}: key {got.get('symbol')}@{got.get('startTime')} "
                       f"!= {w.symbol}@{_iso(w.bucket_start)}")
        else:
            out.extend(_row_diff(got, w, where))
    return out


def check_point(status: int, body, want, where: str) -> list[str]:
    if want is None:
        return [] if status == 404 else [f"{where}: status {status}, reference has no candle"]
    if status != 200:
        return [f"{where}: status {status}, reference has a candle"]
    return _row_diff(body, want, where)


def check_table(table: pd.DataFrame, ref: "Reference", where: str) -> list[str]:
    """A serving table read back as a DataFrame must hold exactly the
    reference's candles for every frame."""
    cols = ["symbol", "time_frame", "bucket_start", "bucket_end", *FIELDS]
    got = table[cols].copy()
    got["time_frame"] = got["time_frame"].astype(str)
    for c in ("bucket_start", "bucket_end"):
        got[c] = pd.to_datetime(got[c]).dt.tz_localize(None).astype("datetime64[us]")
    got["volume"] = got["volume"].astype(np.int64)
    want = ref.candles[cols]
    m = got.merge(want, on=["symbol", "time_frame", "bucket_start"], how="outer",
                  suffixes=("", "_ref"), indicator="side")
    out = [f"{where}: {r.symbol} {r.time_frame} {r.bucket_start} only in {r.side}"
           for r in m[m["side"] != "both"].itertuples()]
    both = m[m["side"] == "both"]
    for f in ("bucket_end", *FIELDS):
        bad = both[both[f] != both[f + "_ref"]]
        out.extend(f"{where}: {r.symbol} {r.time_frame} {r.bucket_start} {f} "
                   f"{getattr(r, f)!r} != {getattr(r, f + '_ref')!r}"
                   for r in bad.itertuples())
    return out

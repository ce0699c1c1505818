"""Seeded trade generator: the benchmark's only source of engine input.

Everything here is a pure function of ``(seed, minute index)``, so the same
seed gives byte-identical files whatever order or thread writes them. The
engine never sees this module; it sees only the files it writes.

Input properties the engine's behaviour depends on:

- every file holds exactly one event-time minute with at least one trade for
  every symbol, so each file closes the previous minute's window;
- activity per symbol is Zipf-skewed (symbol 0 trades most);
- rows are shuffled within a file, so open/close must come from event time;
- timestamps are unique per symbol within a minute (no open/close ties);
- prices are whole cents written as decimal text, so ``cents / 100`` is the
  exact double the engine parses.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

EPOCH = dt.datetime(2024, 3, 1)
HEARTBEAT = "__heartbeat__"
ZIPF_S = 1.0  # the classic Zipf law; the exponent is a choice, not a measurement


def symbols(n: int) -> list[str]:
    return [f"SYM{i:02d}" for i in range(n)]


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def minute_trades(seed: int, minute: int, n_symbols: int, trades: int) -> pd.DataFrame:
    """Trades of event-time minute ``minute`` (rows shuffled)."""
    rng = np.random.default_rng([seed, minute])
    counts = 1 + rng.multinomial(max(trades - n_symbols, 0), zipf_weights(n_symbols))
    sym_idx = np.repeat(np.arange(n_symbols), counts)
    offsets = np.concatenate(
        [np.sort(rng.choice(60_000_000, size=c, replace=False)) for c in counts]
    )
    base_cents = (np.random.default_rng([seed, 0x5EED]).integers(2_000, 50_000, n_symbols))
    steps = rng.integers(-3, 4, size=len(sym_idx))
    walk = np.concatenate([[0], np.cumsum(steps)])
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    walk_rel = walk[1:] - walk[starts][sym_idx]
    cents = np.maximum(base_cents[sym_idx] + minute * 7 % 301 + walk_rel, 1)
    qty = rng.integers(1, 101, size=len(sym_idx))
    order = rng.permutation(len(sym_idx))
    names = np.array(symbols(n_symbols))
    minute_start = np.datetime64(EPOCH) + np.timedelta64(minute, "m")
    return pd.DataFrame(
        {
            "symbol": names[sym_idx][order],
            "cents": cents[order].astype(np.int64),
            "quantity": qty[order].astype(np.int64),
            "ts": (minute_start + offsets[order].astype("timedelta64[us]")).astype(
                "datetime64[us]"
            ),
        }
    )


def with_price(trades: pd.DataFrame) -> pd.DataFrame:
    out = trades.drop(columns="cents")
    out.insert(1, "price", trades["cents"].to_numpy() / 100.0)
    return out


def json_lines(trades: pd.DataFrame) -> str:
    ts = np.datetime_as_string(trades["ts"].to_numpy().astype("datetime64[us]"), unit="us")
    return "".join(
        f'{{"symbol":"{s}","price":{c // 100}.{c % 100:02d},"quantity":{q},"ts":"{t}"}}\n'
        for s, c, q, t in zip(trades["symbol"], trades["cents"].tolist(),
                              trades["quantity"].tolist(), ts.tolist())
    )


def heartbeat_trades(minute: int) -> pd.DataFrame:
    """One trade one second into ``minute``: it pushes the watermark past
    the previous minute and is excluded from every result."""
    return pd.DataFrame(
        {
            "symbol": [HEARTBEAT],
            "cents": np.array([1], dtype=np.int64),
            "quantity": np.array([1], dtype=np.int64),
            "ts": [np.datetime64(EPOCH) + np.timedelta64(minute, "m") + np.timedelta64(1, "s")],
        }
    ).astype({"ts": "datetime64[us]"})


def write_atomic(directory: str, name: str, text: str, mtime: float) -> None:
    """Write ``text`` under a hidden name, stamp ``mtime``, then rename it
    in, so the file source never lists a half-written file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, os.path.join(directory, name))


class Backlog:
    """A pre-written backlog of minute files, mtime-ordered for replay."""

    MTIME_BASE = 1_700_000_000

    def __init__(self, directory: str, seed: int, n_symbols: int, trades: int):
        self.dir, self.seed, self.n_symbols, self.trades = directory, seed, n_symbols, trades
        os.makedirs(directory, exist_ok=True)
        self.frames: list[pd.DataFrame] = []

    def write(self, minutes: range, heartbeat: bool = False) -> int:
        """Write one file per minute (plus a heartbeat file closing the
        last one); returns the number of real trades written."""
        n = 0
        for m in minutes:
            df = minute_trades(self.seed, m, self.n_symbols, self.trades)
            write_atomic(self.dir, f"m{m:06d}.json", json_lines(df), self.MTIME_BASE + m)
            self.frames.append(df)
            n += len(df)
        if heartbeat:
            m = minutes.stop
            write_atomic(
                self.dir, f"m{m:06d}.json", json_lines(heartbeat_trades(m)), self.MTIME_BASE + m
            )
        return n

"""Seeded inputs for the three workloads.

Every input is a pure function of ``(seed, sizes)``: the benchmark
process and the stand-in server process each call the same function
with the same arguments and get byte-identical tapes, so nothing has
to be shipped between them.

- :func:`bar_tape`   — 1-minute OHLCV bars for a symbol universe over
  whole weeks (``ingest_backfill``).
- :func:`trade_tape` — a multi-symbol trade tape with a known share of
  re-delivered trade ids (``connector_roundtrip``).
- :func:`events_table` — the ``events`` table the analytic queries
  read, in the ``events`` schema of TESTDATA.md (``market_analytics``).

Row checksums are exact integer sums over per-row integers, so the
order rows arrive in never matters and the Spark side can compute the
same numbers with ``sum`` over ``bigint`` columns.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
MINUTE_US = 60_000_000


def _tickers(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(3, 5))
        out.add("".join(rng.choice(letters, k)))
    return sorted(out)


def iso_z(us: int) -> str:
    """Epoch microseconds -> the API's RFC-3339 ``...Z`` form."""
    dt = EPOCH + timedelta(microseconds=int(us))
    if dt.microsecond:
        return dt.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def to_us(dt: datetime) -> int:
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return (dt - EPOCH) // timedelta(microseconds=1)


def crc(symbol: str) -> int:
    """CRC-32 of the symbol; equals Spark's ``crc32(symbol)``."""
    return zlib.crc32(symbol.encode())


# ------------------------------------------------------------------ bars
@dataclass
class SymbolBars:
    """One symbol's bars, time-sorted."""

    minute: np.ndarray  # int64 minutes since epoch
    cols: np.ndarray  # int64 (n, 7): open, high, low, close cents, volume, trades, vwap e-4
    check: np.ndarray  # int64 (n, len(BAR_CHECK)) per-row checksum terms

    def frags(self) -> list[bytes]:
        """The wire records, one JSON object each."""
        return [
            b'{"t":"%s","o":%r,"h":%r,"l":%r,"c":%r,"v":%d,"n":%d,"vw":%r}'
            % (iso_z(m * MINUTE_US).encode(), o / 100, h / 100, lo / 100, c / 100, v, k, w / 10_000)
            for m, (o, h, lo, c, v, k, w) in zip(self.minute.tolist(), self.cols.tolist())
        ]


#: Names of the bar checksum terms, in column order.
BAR_CHECK = ("rows", "minute", "sym_minute", "volume", "trades", "ohlc_cents", "vwap_e4")


@dataclass
class BarTape:
    symbols: list[str]
    first_day: datetime  # a Monday, 00:00 UTC
    weeks: int
    bars: dict[str, SymbolBars]

    @property
    def rows(self) -> int:
        return sum(len(b.minute) for b in self.bars.values())


def bar_check_terms(symbol: str, minute, volume, trades, o, h, lo, c, vw_e4):
    """Per-row checksum terms (all int64), shared with the Spark side."""
    minute = np.asarray(minute, dtype=np.int64)
    return np.stack(
        [
            np.ones_like(minute),
            minute - BAR_MINUTE_BASE,
            crc(symbol) * (minute % 97 + 1),
            np.asarray(volume, dtype=np.int64),
            np.asarray(trades, dtype=np.int64),
            np.asarray(o) + 3 * np.asarray(h) + 5 * np.asarray(lo) + 7 * np.asarray(c),
            np.asarray(vw_e4, dtype=np.int64),
        ],
        axis=1,
    ).astype(np.int64)


#: Minute offset subtracted in the ``minute`` checksum term.
BAR_MINUTE_BASE = to_us(datetime(2024, 1, 1)) // MINUTE_US


def bar_tape(seed: int, n_symbols: int, weeks: int) -> BarTape:
    """1-minute bars over ``weeks`` whole weeks: weekdays only, in an
    extended session of 08:00-24:00 UTC, with a bar in 90% of the
    minutes (a minute without trades prints no bar)."""
    rng = np.random.default_rng([seed, 1])
    symbols = _tickers(rng, n_symbols)
    first_day = datetime(2024, 3, 4, tzinfo=timezone.utc)  # a Monday
    day0 = to_us(first_day) // MINUTE_US
    session = np.arange(8 * 60, 24 * 60, dtype=np.int64)
    days = [d for d in range(7 * weeks) if d % 7 < 5]
    grid = np.concatenate([day0 + d * 1440 + session for d in days])
    bars: dict[str, SymbolBars] = {}
    for sym in symbols:
        keep = rng.random(len(grid)) < 0.9
        minute = grid[keep]
        n = len(minute)
        close = np.maximum(
            100, int(rng.integers(1_000, 50_000)) + np.cumsum(rng.integers(-25, 26, n))
        )
        open_ = np.maximum(100, close + rng.integers(-20, 21, n))
        high = np.maximum(open_, close) + rng.integers(0, 15, n)
        low = np.maximum(1, np.minimum(open_, close) - rng.integers(0, 15, n))
        volume = rng.integers(100, 50_000, n)
        trades = rng.integers(1, 400, n)
        vw_e4 = (low * 100 + (high - low) * rng.integers(0, 101, n)).astype(np.int64)
        cols = np.stack([open_, high, low, close, volume, trades, vw_e4], axis=1)
        check = bar_check_terms(sym, minute, volume, trades, open_, high, low, close, vw_e4)
        bars[sym] = SymbolBars(minute, cols, check)
    return BarTape(symbols, first_day, weeks, bars)


def backfill_chunks(
    tape: BarTape, seed: int, symbols_per_job: int
) -> list[tuple[list[str], datetime, datetime]]:
    """The backfill's job list: symbol groups x weeks (Monday 00:00 to
    Saturday 00:00), in a seeded order."""
    groups = [
        tape.symbols[i : i + symbols_per_job]
        for i in range(0, len(tape.symbols), symbols_per_job)
    ]
    weeks = [tape.first_day + timedelta(weeks=w) for w in range(tape.weeks)]
    jobs = [(g, w, w + timedelta(days=5)) for g in groups for w in weeks]
    order = np.random.default_rng([seed, 2]).permutation(len(jobs))
    return [jobs[i] for i in order]


# ---------------------------------------------------------------- trades
@dataclass
class SymbolTrades:
    us: np.ndarray  # int64 event time, sorted
    ids: np.ndarray  # int64 trade id (re-deliveries repeat an id)
    exchange: np.ndarray
    price_cents: np.ndarray
    size: np.ndarray
    check: np.ndarray  # int64 (n, len(TRADE_CHECK))

    def frags(self) -> list[bytes]:
        """The wire records, one JSON object each."""
        return [
            b'{"t":"%s","x":"%s","p":%r,"s":%d,"c":["@"],"i":%d,"z":"C"}'
            % (iso_z(t).encode(), x.encode(), p / 100, s, i)
            for t, x, p, s, i in zip(
                self.us.tolist(), self.exchange.tolist(), self.price_cents.tolist(),
                self.size.tolist(), self.ids.tolist(),
            )
        ]


#: Trade checksum terms: invariant between a trade and its re-delivery.
TRADE_CHECK = ("rows", "id", "id_sq", "price_size")


@dataclass
class TradeTape:
    symbols: list[str]
    start_us: int
    poll_s: int
    n_slices: int
    trades: dict[str, SymbolTrades]
    originals: int
    redeliveries: int

    @property
    def end_us(self) -> int:
        return self.start_us + self.n_slices * self.poll_s * 1_000_000


def trade_check_terms(ids, price_cents, size):
    ids = np.asarray(ids, dtype=np.int64)
    return np.stack(
        [
            np.ones_like(ids),
            ids,
            (ids * ids) % 1_000_000_007,
            np.asarray(price_cents, dtype=np.int64) * np.asarray(size, dtype=np.int64) % 1_000_003,
        ],
        axis=1,
    ).astype(np.int64)


def trade_tape(
    seed: int,
    n_symbols: int,
    n_slices: int,
    poll_s: int,
    trades_per_slice: int,
    redelivery_share: float,
) -> TradeTape:
    """``n_slices`` poll windows of ``poll_s`` event-seconds each.  A
    ``redelivery_share`` of trades is served a second time, same id,
    price and size, stamped up to two poll windows later: the cursor
    poller fetches the copy in the same or a later micro-batch."""
    rng = np.random.default_rng([seed, 3])
    symbols = _tickers(rng, n_symbols)
    start_us = to_us(datetime(2024, 3, 5, 14, 30, tzinfo=timezone.utc))
    span_us = n_slices * poll_s * 1_000_000
    n = n_slices * trades_per_slice
    sym_idx = rng.integers(0, n_symbols, n)
    us = start_us + np.sort(rng.choice(span_us, n, replace=False)).astype(np.int64)
    ids = np.arange(1, n + 1, dtype=np.int64) * 7 + int(rng.integers(0, 7))
    price = rng.integers(1_000, 50_000, n)
    size = rng.integers(1, 1_000, n)
    exch = rng.choice(np.array(list("VPQKZN")), n)
    dup = np.flatnonzero(rng.random(n) < redelivery_share)
    lag = rng.integers(0, 2 * poll_s * 1_000_000, len(dup))
    late = us[dup] + lag
    fits = late < start_us + span_us
    dup, late = dup[fits], late[fits]
    all_us = np.concatenate([us, late])
    src = np.concatenate([np.arange(n), dup])
    trades: dict[str, SymbolTrades] = {}
    for k, sym in enumerate(symbols):
        mine = np.flatnonzero(sym_idx[src] == k)
        order = np.lexsort((ids[src[mine]], all_us[mine]))
        rows = src[mine][order]
        t_us = all_us[mine][order]
        trades[sym] = SymbolTrades(
            t_us, ids[rows], exch[rows], price[rows], size[rows],
            trade_check_terms(ids[rows], price[rows], size[rows]),
        )
    return TradeTape(symbols, start_us, poll_s, n_slices, trades, n, len(dup))


# ---------------------------------------------------------------- events
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def events_table(seed: int, rows: int, users: int, days: int):
    """The analytic queries' ``events`` table as a pyarrow Table, in the
    schema and shape of TESTDATA.md: five event types, cent-quantized values,
    ``(user_id, ts)`` unique."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 4])
    start = to_us(datetime(2024, 1, 1))
    ts = start + np.sort(rng.choice(days * 86_400_000_000, rows, replace=False))
    return pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, users, rows).astype(np.int64)),
            "event_type": pa.array(rng.choice(np.array(EVENT_TYPES), rows).tolist()),
            "value": pa.array(rng.integers(100, 20_000, rows) / 100),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows).tolist()]),
        }
    )

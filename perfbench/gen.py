"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and fixed sizes, so
the same seed gives the same inputs and every seed gives the same
amount of work: row counts, message counts and the shares of
duplicates, out-of-order sends and malformed lines are fixed by the
sizes; only values (prices, amounts, which lines are resent, which
dates are missing) follow the seed.

Daily candles follow the FIXTURES.md invariants: per-symbol random
walk, ``low <= min(open, close) <= max(open, close) <= high``, positive
volumes, ``BTC_USDT`` as the freshness sentinel (present every day),
``SHIB_USDT`` with prices small enough to need the x1000 rescale, and a
few missing dates per symbol (never on ``BTC_USDT``, never in the
trailing update window or in the days the refresh cycles land, so each
cycle writes a fixed number of rows).
"""

from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pandas as pd

SENTINEL = "BTC_USDT"
TINY = "SHIB_USDT"
MISSING_PER_SYMBOL = 3
DAY_S = 86400


def symbols(n: int) -> list[str]:
    """``BTC_USDT``, ``ETH_USDT``, ``SHIB_USDT`` and synthetic pairs."""
    base = [SENTINEL, "ETH_USDT", TINY]
    return base + [f"S{i:03d}_USDT" for i in range(n - len(base))]


def _start_price(sym: str, rng: np.random.Generator) -> float:
    if sym == SENTINEL:
        return 30000.0 * rng.uniform(0.8, 1.2)
    if sym == TINY:
        return 1e-5 * rng.uniform(0.5, 2.0)
    return float(np.exp(rng.uniform(-2.0, 7.0)))


def daily_candles(
    rng: np.random.Generator,
    syms: list[str],
    first_day: dt.date,
    n_days: int,
    protect_tail: int,
) -> pd.DataFrame:
    """Raw ``candles_day`` rows for ``n_days`` days from ``first_day``.

    Each non-sentinel symbol misses ``MISSING_PER_SYMBOL`` dates drawn
    from the days before the last ``protect_tail`` ones."""
    frames = []
    day0 = np.datetime64(first_day, "D")
    days = day0 + np.arange(n_days)
    start_s = (days - np.datetime64("1970-01-01", "D")).astype(np.int64) * DAY_S
    for sym in syms:
        steps = rng.normal(0.0, 0.03, n_days)
        close = _start_price(sym, rng) * np.exp(np.cumsum(steps))
        open_ = np.concatenate([[close[0]], close[:-1]]) * np.exp(
            rng.normal(0.0, 0.005, n_days)
        )
        hi = np.maximum(open_, close) * (1.0 + rng.uniform(0.0, 0.03, n_days))
        lo = np.minimum(open_, close) * (1.0 - rng.uniform(0.0, 0.03, n_days))
        amount = rng.lognormal(13.0, 1.0, n_days)
        qty = amount / close
        keep = np.ones(n_days, dtype=bool)
        if sym != SENTINEL:
            drop = rng.choice(n_days - protect_tail, MISSING_PER_SYMBOL, replace=False)
            keep[drop] = False
        frames.append(
            pd.DataFrame(
                {
                    "id": sym,
                    "low": lo.astype(np.float32),
                    "high": hi.astype(np.float32),
                    "open": open_.astype(np.float32),
                    "close": close.astype(np.float32),
                    "amount": amount.astype(np.float32),
                    "quantity": qty.astype(np.float32),
                    "buyTakerAmount": (amount * rng.uniform(0.3, 0.7, n_days)).astype(
                        np.float32
                    ),
                    "buyTakerQuantity": (qty * rng.uniform(0.3, 0.7, n_days)).astype(
                        np.float32
                    ),
                    "tradeCount": rng.integers(1, 50000, n_days).astype(np.int32),
                    "ts": start_s + DAY_S + rng.integers(0, 60, n_days),
                    "weightedAverage": ((lo + hi) / 2.0).astype(np.float32),
                    "interval_type": "DAY_1",
                    "startTime": start_s,
                    "closeTime": start_s + DAY_S - 1,
                    "dt_create_utc": days.astype("datetime64[D]"),
                }
            )[keep]
        )
    out = pd.concat(frames, ignore_index=True)
    d = pd.to_datetime(out["dt_create_utc"])
    out["dt_create_utc"] = d.dt.date
    out["ts_create_utc"] = d + pd.Timedelta(seconds=DAY_S - 1)
    out["ts_insert_utc"] = d + pd.Timedelta(seconds=DAY_S + 300)
    out["year"] = d.dt.year.astype(np.int16)
    out["month"] = d.dt.month.astype(np.int16)
    out["day"] = d.dt.day.astype(np.int16)
    return out


# ---------------------------------------------------------------------------
# Stream backlogs (JSON lines, all values as strings, FIXTURES.md §6)
# ---------------------------------------------------------------------------

TOPICS = ("market_trade", "order_book", "candles_minute")
BOOK_LEVELS = 20
STREAM_T0 = 1_700_000_000  # 2023-11-14 UTC


def _fmt(x: float) -> str:
    return f"{x:.8g}"


class Backlog:
    """One backlog file: the JSON lines plus the row counts the sink
    must reproduce. Every well-formed message (resends included) lands
    ``fanout`` rows; merge-on-read keeps one row per distinct key."""

    def __init__(self, lines: list[str], valid: int, fresh: int, fanout: int):
        self.lines = lines
        self.landed_rows = valid * fanout
        self.distinct_rows = fresh * fanout


def stream_backlog(
    rng: np.random.Generator,
    topic: str,
    n_msgs: int,
    syms: list[str],
    first_key: int = 0,
    dup_share: float = 0.05,
    late_share: float = 0.05,
    bad_share: float = 0.01,
) -> Backlog:
    """``n_msgs`` lines: fresh messages, byte-identical resends of an
    earlier message (``dup_share``), fresh messages whose ``ts_send``
    runs behind the previous one (``late_share``) and malformed lines
    (``bad_share``). Message keys start at ``first_key``, so backlogs
    built with disjoint key ranges never share a primary key."""
    n_bad = int(round(n_msgs * bad_share))
    n_dup = int(round(n_msgs * dup_share))
    n_fresh = n_msgs - n_bad - n_dup
    late = np.zeros(n_fresh, dtype=bool)
    late[rng.choice(n_fresh, int(round(n_fresh * late_share)), replace=False)] = True
    sym_idx = rng.integers(0, len(syms), n_fresh)
    price0 = {s: _start_price(s, rng) for s in syms}
    walk = np.exp(np.cumsum(rng.normal(0.0, 0.001, n_fresh)))
    fresh: list[str] = []
    for i in range(n_fresh):
        sym = syms[sym_idx[i]]
        key = first_key + i
        t = STREAM_T0 + key // 4
        send = t + (-30 if late[i] else 1)
        px = price0[sym] * walk[i]
        fresh.append(_message(rng, topic, sym, key, t, send, px))
    lines = list(fresh)
    # resends repeat earlier messages verbatim (same key and ts_send)
    for j in rng.choice(n_fresh, n_dup, replace=True):
        lines.append(fresh[j])
    for k in range(n_bad):
        lines.append('{"data": [{"id": "BROKEN_' + str(k))
    order = rng.permutation(len(lines))
    lines = [lines[i] for i in order]
    fanout = 2 * BOOK_LEVELS if topic == "order_book" else 1
    return Backlog(lines, n_fresh + n_dup, n_fresh, fanout)


def _message(rng, topic, sym, i, t, send, px) -> str:
    if topic == "market_trade":
        qty = float(rng.lognormal(0.0, 1.0))
        rec = {
            "id": sym,
            "trade_id": str(10_000_000 + i),
            "takerSide": "buy" if rng.random() < 0.5 else "sell",
            "amount": _fmt(qty * px),
            "quantity": _fmt(qty),
            "price": _fmt(px),
            "createTime": str(t),
            "ts_send": str(send),
        }
    elif topic == "order_book":
        tick = px * 1e-4
        ask_px = px + tick * np.cumsum(rng.integers(1, 5, BOOK_LEVELS))
        bid_px = px - tick * np.cumsum(rng.integers(1, 5, BOOK_LEVELS))
        ask_amt = rng.lognormal(0.0, 1.0, BOOK_LEVELS)
        bid_amt = rng.lognormal(0.0, 1.0, BOOK_LEVELS)
        rec = {
            "id": sym,
            "seqid": str(500_000_000 + i),
            "asks": [[_fmt(p), _fmt(a)] for p, a in zip(ask_px, ask_amt)],
            "bids": [[_fmt(p), _fmt(a)] for p, a in zip(bid_px, bid_amt)],
            "createTime": str(t),
            "ts_send": str(send),
        }
    else:
        start = STREAM_T0 + 60 * i
        o = px * float(np.exp(rng.normal(0.0, 0.001)))
        hi = max(o, px) * (1.0 + float(rng.uniform(0.0, 0.002)))
        lo = min(o, px) * (1.0 - float(rng.uniform(0.0, 0.002)))
        amount = float(rng.lognormal(8.0, 1.0))
        rec = {
            "id": sym,
            "low": _fmt(lo),
            "high": _fmt(hi),
            "open": _fmt(o),
            "close": _fmt(px),
            "amount": _fmt(amount),
            "quantity": _fmt(amount / px),
            "tradeCount": str(int(rng.integers(1, 5000))),
            "ts_send": str(start + 60 + (send - t)),
            "startTime": str(start),
            "closeTime": str(start + 59),
        }
    return json.dumps({"data": [rec]})

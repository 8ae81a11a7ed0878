"""The workloads: set-up, warm-up, timed loop and output checks.

Each workload drives the package only through its public functions,
looked up on their modules at call time so the traced run's wrappers
apply. The timed phase runs a fixed number of whole *units*, sized so
that the units take about the run's seconds on the host the benchmark
was tuned on (4 vCPUs): a fixed amount of work per run keeps a fast run
from warming the JVM further than a slow one. A unit is the smallest
slice of work whose mix does not change from run to run:

- ``stream_ingest``: one round drains every topic's backlog once; its
  ops are the micro-batches.
- ``mart_query``: one block of ten queries in the 6:3:1 mix; ten ops.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

import gen

from crypto_prediction_etl_spark.operators import rolling, timeseries
from crypto_prediction_etl_spark.plans import pipeline
from crypto_prediction_etl_spark.quality import checks
from crypto_prediction_etl_spark.sources import writers
from crypto_prediction_etl_spark.streaming import pipelines, sinks

from pyspark.sql import functions as F


class Run:
    """State shared by a workload's phases."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.setup_checks_ok = True
        self.post_checks_ok = True
        self.op_latencies: list[float] = []
        self.failed = 0
        self.attempted = 0
        self.work_done = 0.0  # messages drained or queries served

    def unit(self, label: str) -> None:
        if self.tracer is not None:
            self.tracer.unit = label

    def note_failure(self, what: str, detail) -> None:
        print(f"CHECK FAILED: {what}: {detail}", file=sys.stderr)


def _median_setup(run: Run, rep, reps: int) -> float:
    """Run the data set-up ``reps`` times, each into fresh directories;
    return the median duration. The last repetition's state is the one
    the workload continues with."""
    times = []
    for r in range(reps):
        run.unit(f"setup:{r}")
        t0 = time.perf_counter()
        ok = rep(r, last=r == reps - 1)
        times.append(time.perf_counter() - t0)
        run.setup_checks_ok &= bool(ok)
    return statistics.median(times)


def timed_units(seconds: float, workload) -> float:
    """Run as many of the workload's units as take about ``seconds`` at
    its nominal ``unit_s``; returns the elapsed seconds."""
    t0 = time.perf_counter()
    for i in range(max(1, round(seconds / workload.unit_s))):
        workload.unit(i)
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

STREAM_SYMBOLS = 40
SETUP_REPS = 3  # backlog generation is cheap, so it is repeated
FILES_PER_TOPIC = 6
WARM_FILES = 1
# messages per backlog file (one file per micro-batch); an order-book
# message lands 40 rows, so its files carry a tenth of the messages
MSGS_PER_FILE = {"market_trade": 4000, "order_book": 400, "candles_minute": 4000}
PIPES = {
    "market_trade": ("market_trade_pipeline", "MARKET_TRADE_PK"),
    "order_book": ("order_book_pipeline", "ORDER_BOOK_PK"),
    "candles_minute": ("candles_pipeline", "CANDLES_PK"),
}
ORDER_COLS = ["ts_insert_utc", "_epoch"]


class StreamIngest:
    name = "stream_ingest"
    unit_s = 11.0

    def __init__(self, run: Run):
        self.run = run
        self.backlogs: dict[str, list[gen.Backlog]] = {}
        self.drains: list[dict] = []
        self.batches_attempted = 0

    def _write_backlogs(self, root: str) -> dict[str, list[gen.Backlog]]:
        rng = np.random.default_rng(self.run.seed)
        syms = gen.symbols(STREAM_SYMBOLS)
        out = {}
        for topic in gen.TOPICS:
            files = []
            d = os.path.join(root, topic)
            os.makedirs(d)
            for i in range(FILES_PER_TOPIC):
                n = MSGS_PER_FILE[topic]
                b = gen.stream_backlog(rng, topic, n, syms, first_key=i * n)
                with open(os.path.join(d, f"part-{i:04d}.jsonl"), "w") as f:
                    f.write("\n".join(b.lines) + "\n")
                files.append(b)
            out[topic] = files
        return out

    def setup(self) -> tuple[float, float]:
        run = self.run

        def rep(r: int, last: bool) -> bool:
            root = os.path.join(run.work, f"backlog{r}")
            self.backlogs = self._write_backlogs(root)
            if not last:
                shutil.rmtree(root)
            else:
                self.src = root
            return True

        data_s = _median_setup(run, rep, SETUP_REPS)
        run.unit("warmup")
        t0 = time.perf_counter()
        warm = os.path.join(run.work, "warm_src")
        for topic in gen.TOPICS:
            os.makedirs(os.path.join(warm, topic))
            for i in range(WARM_FILES):
                shutil.copy(
                    os.path.join(self.src, topic, f"part-{i:04d}.jsonl"),
                    os.path.join(warm, topic),
                )
            d = self._drain(warm, topic, f"warm_{topic}", self.backlogs[topic][:WARM_FILES])
            run.setup_checks_ok &= self._check(d)
        return data_s, time.perf_counter() - t0

    def _drain(self, src_root: str, topic: str, tag: str, files: list[gen.Backlog]) -> dict:
        spark = self.run.spark
        pipe = getattr(pipelines, PIPES[topic][0])
        pk = getattr(pipelines, PIPES[topic][1])
        out = os.path.join(self.run.work, "sink", tag)
        ckpt = os.path.join(self.run.work, "ckpt", tag)
        t0 = time.perf_counter()
        q = sinks.start_file_stream_pipeline(
            spark, os.path.join(src_root, topic), pipe, out, ckpt, max_files_per_trigger=1
        )
        try:
            q.processAllAvailable()
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        finally:
            q.stop()
        t1 = time.perf_counter()
        compacted = sinks.compact_hot_table(spark, out, pk, ORDER_COLS, out + "_compacted")
        return {
            "topic": topic,
            "out": out,
            "files": files,
            "msgs": sum(len(b.lines) for b in files),
            "progress": progress,
            "compacted": compacted,
            "drain_s": t1 - t0,
        }

    def _check(self, d: dict) -> bool:
        """Landed rows = valid msgs x fan-out; rows after merge-on-read
        = distinct keys; one micro-batch per backlog file."""
        landed = self.run.spark.read.parquet(d["out"]).count()
        want_landed = sum(b.landed_rows for b in d["files"])
        want_distinct = sum(b.distinct_rows for b in d["files"])
        ok = (
            landed == want_landed
            and d["compacted"] == want_distinct
            and len(d["progress"]) == len(d["files"])
            and sum(p["numInputRows"] for p in d["progress"]) == d["msgs"]
        )
        if not ok:
            self.run.note_failure(
                f"{d['topic']} drain",
                f"landed {landed}/{want_landed} distinct {d['compacted']}/"
                f"{want_distinct} batches {len(d['progress'])}/{len(d['files'])}",
            )
        d["landed"] = landed
        return ok

    def unit(self, i: int) -> None:
        """One round: drain every topic's backlog once."""
        run = self.run
        for topic in gen.TOPICS:
            run.unit(f"op:{len(self.drains)}")
            files = self.backlogs[topic]
            self.batches_attempted += len(files)
            try:
                d = self._drain(self.src, topic, f"r{i}_{topic}", files)
            except Exception:
                traceback.print_exc()
                run.failed += len(files)
                self.drains.append(None)
                continue
            self.drains.append(d)
            for p in d["progress"]:
                run.op_latencies.append(p["durationMs"]["triggerExecution"] / 1000.0)
            run.work_done += d["msgs"]

    def attempted(self) -> int:
        return self.batches_attempted

    def post_checks(self) -> None:
        for d in self.drains:
            if d is not None and not self._check(d):
                self.run.failed += len(d["files"])


# ---------------------------------------------------------------------------
# mart_query
# ---------------------------------------------------------------------------

MART_SYMBOLS = 20
HISTORY_DAYS = 240  # twice the refresh lookback, so the lookback filter drops rows
LOOKBACK_DAYS = 120
UPDATE_DAYS = 30
FIRST_DAY = dt.date(2023, 1, 1)
BLOCK = ["symbol_history"] * 6 + ["close_stats"] * 3 + ["screen_latest"]
ZIPF_S = 1.1
QUARTER_DAYS = 91
YEAR_DAYS = 365
STATS_SYMBOLS = 4
SCREEN_TOP = 20


def candles(spark, raw: str):
    """The raw table as the indicator pipeline's candle frame (the
    reference aliases quote volume ``amount`` as ``volume``)."""
    return spark.read.parquet(raw).select(
        "id",
        F.col("dt_create_utc").alias("dt"),
        "open",
        "high",
        "low",
        "close",
        F.col("amount").alias("volume"),
    )


def part_pred(day: dt.date) -> str:
    return f"year = {day.year} AND month = {day.month} AND day = {day.day}"


def _date_int():
    return F.col("year") * 10000 + F.col("month") * 100 + F.col("day")


class MartQuery:
    """Set-up backfills the raw candle table and the indicator mart,
    then one daily ELT cycle lands the serving day; the timed phase
    serves queries against the result."""

    name = "mart_query"
    unit_s = 9.0

    def __init__(self, run: Run):
        self.run = run
        self.queries = 0
        self.per_type: dict[str, list[float]] = {}
        self.returned: list[tuple[str, int]] = []

    def setup(self) -> tuple[float, float]:
        # one backfill: it is most of the set-up, and a second one would
        # not fit the run's wall-time budget
        data_s = _median_setup(self.run, self._backfill, 1)
        self.syms = gen.symbols(MART_SYMBOLS)
        weights = 1.0 / np.arange(1, MART_SYMBOLS + 1) ** ZIPF_S
        self.p = weights / weights.sum()
        self.rng = np.random.default_rng(self.run.seed + 2)
        self.run.unit("warmup")
        t0 = time.perf_counter()
        ok = self._refresh_cycle()
        for kind in ("symbol_history", "close_stats", "screen_latest"):
            ok &= self._query(kind)[0]
        self.run.setup_checks_ok &= ok
        return data_s, time.perf_counter() - t0

    def _backfill(self, r: int, last: bool) -> bool:
        """Generate the candles, land the history in the raw table and
        build the whole indicator mart from it."""
        run = self.run
        rng = np.random.default_rng(run.seed)
        pdf = gen.daily_candles(
            rng, gen.symbols(MART_SYMBOLS), FIRST_DAY, HISTORY_DAYS + 1, UPDATE_DAYS + 5
        )
        pdf = pdf.sort_values(["dt_create_utc", "id"], ignore_index=True)
        last_hist = FIRST_DAY + dt.timedelta(days=HISTORY_DAYS - 1)
        hist = pdf[pdf["dt_create_utc"] <= last_hist]
        raw = os.path.join(run.work, f"raw{r}")
        mart = os.path.join(run.work, f"mart{r}")
        writers.write_partitioned(run.spark.createDataFrame(hist), raw)
        report = pipeline.run_indicator_mart(
            run.spark, candles(run.spark, raw), mart, small_ids=[gen.TINY]
        )
        ok = report.passed and report.rows_written == len(hist)
        if not ok:
            run.note_failure("backfill", f"{report.rows_written} vs {len(hist)}")
        if last:
            self.pdf, self.raw, self.mart = pdf, raw, mart
            self.landed, self.last_day = hist, last_hist
        else:
            shutil.rmtree(raw)
            shutil.rmtree(mart)
        return ok

    def _refresh_cycle(self) -> bool:
        """The daily ELT cycle: land the next day (delete -> verify ->
        insert), reload the indicator mart's update window, then probe
        freshness and raw-vs-mart parity over that window."""
        run, spark = self.run, self.run.spark
        day = self.last_day + dt.timedelta(days=1)
        rows = self.pdf[self.pdf["dt_create_utc"] == day]
        pred = part_pred(day)
        writers.delete_partitions(spark, self.raw, pred)
        left = writers.verify_deletion(spark, self.raw, pred)
        writers.write_partitioned(spark.createDataFrame(rows), self.raw)
        report = pipeline.run_indicator_mart(
            spark,
            candles(spark, self.raw),
            self.mart,
            lookback_days=LOOKBACK_DAYS,
            update_days=UPDATE_DAYS,
            small_ids=[gen.TINY],
        )
        self.last_day = day
        self.landed = self.pdf[self.pdf["dt_create_utc"] <= day]
        mart = spark.read.parquet(self.mart)
        fresh = checks.check_freshness(mart, "dt", F.col("id") == gen.SENTINEL, day)
        lo = day - dt.timedelta(days=UPDATE_DAYS)
        parity = checks.check_row_count_parity(
            candles(spark, self.raw).filter(F.col("dt") >= lo), mart.filter(F.col("dt") >= lo)
        )
        window = int((self.landed["dt_create_utc"] >= lo).sum())
        ok = (
            left == 0
            and report.passed
            and report.rows_written == len(self.landed)
            and fresh.passed
            and parity.detail == f"{window} vs {window}"
        )
        if not ok:
            run.note_failure(
                f"refresh {day}",
                f"left={left} passed={report.passed} rows={report.rows_written}/"
                f"{len(self.landed)} fresh={fresh.detail} parity={parity.detail}",
            )
        return ok

    def _pick(self, k: int) -> list[str]:
        return list(self.rng.choice(self.syms, size=k, replace=False, p=self.p))

    def symbol_history(self, sym: str):
        """One symbol's indicator rows over the trailing quarter; the
        date bound is on the partition columns, so it prunes."""
        lo = self.last_day - dt.timedelta(days=QUARTER_DAYS - 1)
        return (
            self.run.spark.read.parquet(self.mart)
            .filter(_date_int() >= lo.year * 10000 + lo.month * 100 + lo.day)
            .filter(F.col("id") == sym)
            .select("id", "dt", "close", "sma_10", "rsi_14", "macd", "bb_upper", "bb_lower")
            .collect()
        )

    def close_stats(self, syms: list[str]):
        """Rolling close stats over the densified trailing year."""
        lo = self.last_day - dt.timedelta(days=YEAR_DAYS - 1)
        c = candles(self.run.spark, self.raw).filter(
            F.col("id").isin(syms) & (F.col("dt") >= lo)
        )
        return rolling.daily_close_stats(timeseries.densify(c)).collect()

    def screen_latest(self):
        """Latest-day RSI/MACD top list; ``dt`` is not a partition
        column, so every partition is scanned."""
        return (
            self.run.spark.read.parquet(self.mart)
            .filter(F.col("dt") == self.last_day)
            .orderBy(F.desc("rsi_14"), "id")
            .limit(SCREEN_TOP)
            .select("id", "dt", "close", "rsi_14", "macd", "macd_signal")
            .collect()
        )

    def _query(self, kind: str) -> tuple[bool, int]:
        """Run one query; returns (output as expected, rows returned)."""
        landed = self.landed
        if kind == "symbol_history":
            sym = self._pick(1)[0]
            lo = self.last_day - dt.timedelta(days=QUARTER_DAYS - 1)
            rows = self.symbol_history(sym)
            want = int(((landed["id"] == sym) & (landed["dt_create_utc"] >= lo)).sum())
            ok = len(rows) == want and all(r.id == sym for r in rows)
        elif kind == "close_stats":
            syms = self._pick(STATS_SYMBOLS)
            rows = self.close_stats(syms)
            lo = self.last_day - dt.timedelta(days=YEAR_DAYS - 1)
            sel = landed[landed["id"].isin(syms) & (landed["dt_create_utc"] >= lo)]
            span = (sel["dt_create_utc"].max() - sel["dt_create_utc"].min()).days + 1
            ok = len(rows) == len(syms) * span * len(rolling.DEFAULT_RANGES)
        else:
            rows = self.screen_latest()
            rsi = [r.rsi_14 for r in rows]
            ok = (
                len(rows) == SCREEN_TOP
                and len({r.id for r in rows}) == SCREEN_TOP
                and rsi == sorted(rsi, reverse=True)
            )
        if not ok:
            self.run.note_failure(kind, f"{len(rows)} rows")
        return ok, len(rows)

    def unit(self, i: int) -> None:
        """One block of ten queries in the 6:3:1 mix, in seeded order."""
        run = self.run
        for kind in self.rng.permutation(BLOCK):
            kind = str(kind)
            run.unit(f"op:{self.queries}")
            t0 = time.perf_counter()
            try:
                ok, n = self._query(kind)
            except Exception:
                traceback.print_exc()
                ok, n = False, 0
            lat = time.perf_counter() - t0
            run.op_latencies.append(lat)
            self.per_type.setdefault(kind, []).append(lat)
            self.returned.append((kind, n))
            self.queries += 1
            run.failed += not ok
            run.work_done += 1

    def attempted(self) -> int:
        return self.queries

    def post_checks(self) -> None:
        """A sampled symbol's indicators against the pandas reference.
        Rows the refresh rewrote (its update window) were computed over
        the lookback slice only; older rows come from the backfill,
        which saw the whole history."""
        sym = self.syms[int(np.random.default_rng(self.run.seed + 1).integers(3, MART_SYMBOLS))]
        rows = self.landed[self.landed["id"] == sym]
        day = self.last_day
        full = reference_indicators(rows)
        window = reference_indicators(
            rows[rows["dt_create_utc"] >= day - dt.timedelta(days=LOOKBACK_DAYS)]
        )
        updated = day - dt.timedelta(days=UPDATE_DAYS)
        want = pd.concat([full[full.index < updated], window[window.index >= updated]])
        got = (
            self.run.spark.read.parquet(self.mart)
            .filter(F.col("id") == sym)
            .select("dt", *REF_COLS)
            .toPandas()
            .set_index("dt")
            .sort_index()
        )
        ok = list(got.index) == list(want.index) and np.allclose(
            got[REF_COLS].to_numpy(dtype=float),
            want[REF_COLS].to_numpy(dtype=float),
            rtol=1e-9,
            atol=1e-9,
            equal_nan=True,
        )
        if not ok:
            self.run.note_failure(f"indicators of {sym}", f"{len(got)} vs {len(want)} rows")
        self.run.post_checks_ok &= ok


REF_COLS = ["sma_10", "bb_sma", "ema_10", "rsi_14", "obv"]


def reference_indicators(raw: pd.DataFrame) -> pd.DataFrame:
    """SMA 10/20, SMA-seeded EMA 10, Wilder RSI 14 and OBV in plain
    pandas/Python, written from the indicator definitions."""
    raw = raw.sort_values("dt_create_utc")
    close = raw["close"].astype("float64").to_numpy()
    vol = raw["amount"].astype("float64").to_numpy()
    s = pd.Series(close)
    out = pd.DataFrame(index=pd.Index(list(raw["dt_create_utc"]), name="dt"))
    out["sma_10"] = s.rolling(10).mean().to_numpy()
    out["bb_sma"] = s.rolling(20).mean().to_numpy()
    ema = [float("nan")] * len(close)
    if len(close) >= 10:
        prev = sum(close[:10]) / 10
        ema[9] = prev
        for i in range(10, len(close)):
            prev = 2 / 11 * close[i] + (1 - 2 / 11) * prev
            ema[i] = prev
    out["ema_10"] = ema
    rsi = [float("nan")] * len(close)
    if len(close) > 14:
        d = [close[i] - close[i - 1] for i in range(1, len(close))]
        g = sum(max(x, 0.0) for x in d[:14]) / 14
        lo = sum(max(-x, 0.0) for x in d[:14]) / 14
        for i in range(14, len(close)):
            if i > 14:
                g = (g * 13 + max(d[i - 1], 0.0)) / 14
                lo = (lo * 13 + max(-d[i - 1], 0.0)) / 14
            rsi[i] = 100.0 if lo == 0 else 100.0 - 100.0 / (1.0 + g / lo)
    out["rsi_14"] = rsi
    obv, acc = [], 0.0
    for i in range(len(close)):
        if i > 0 and close[i] > close[i - 1]:
            acc += vol[i]
        elif i > 0 and close[i] < close[i - 1]:
            acc -= vol[i]
        obv.append(acc)
    out["obv"] = obv
    return out



WORKLOADS = {w.name: w for w in (StreamIngest, MartQuery)}

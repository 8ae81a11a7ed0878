"""Per-layer metrics of the traced run, and which end-to-end metric
each one should move, on which workload.

A layer time is the median, over units, of the summed durations of
that layer's spans in one unit. Units are the timed ops when the layer
runs in the timed phase, else the set-up repetitions (the backfill on
``mart_query``), else the units that hold it at all (the session
build; the daily ELT cycle that lands ``mart_query``'s serving day in
its warm-up). A layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import Tracer, attribute_jobs, files_under


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# per-layer metric -> the end-to-end metric it should move (on which
# workload). BENCHMARK.json holds the units; run.py checks that both
# name sets match what the traced run reports.
MOVES = {
    "session.get_spark_s": "setup_s (all)",
    "writers.reload_window_s": "setup_s (mart_query)",
    "writers.write_partitioned_s": "setup_s (mart_query)",
    "writers.delete_partitions_s": "setup_s (mart_query)",
    "writers.files_written": "setup_s, op_p50_s (mart_query)",
    "writers.bytes_written": "setup_s (mart_query)",
    "writers.partitions_written": "setup_s (mart_query)",
    "indicators.plan_s": "setup_s (mart_query)",
    "indicators.compute_s": "setup_s (mart_query)",
    "checks.check_unique_s": "setup_s (mart_query)",
    "checks.check_not_null_s": "setup_s (mart_query)",
    "checks.row_count_s": "setup_s (mart_query)",
    "checks.rows_scanned_per_row_written": "setup_s (mart_query)",
    "pipeline.run_indicator_mart_s": "setup_s (mart_query)",
    "pipeline.run_indicator_mart_self_s": "setup_s (mart_query)",
    "stream.add_batch_ms": "op_p50_s, throughput_per_s (stream_ingest)",
    "stream.latest_offset_ms": "op_p50_s (stream_ingest)",
    "stream.query_planning_ms": "op_p50_s (stream_ingest)",
    "stream.wal_commit_ms": "op_p50_s (stream_ingest)",
    "stream.commit_offsets_ms": "op_p50_s (stream_ingest)",
    "stream.rows_per_msg": "throughput_per_s (stream_ingest)",
    "stream.market_trade.msgs_per_s": "throughput_per_s (stream_ingest)",
    "stream.order_book.msgs_per_s": "throughput_per_s (stream_ingest)",
    "stream.candles_minute.msgs_per_s": "throughput_per_s (stream_ingest)",
    "sinks.files_per_batch": "throughput_per_s (stream_ingest)",
    "sinks.bytes_per_batch": "throughput_per_s (stream_ingest)",
    "sinks.compact_hot_table_s": "throughput_per_s (stream_ingest)",
    "sinks.dup_collapse_ratio": "throughput_per_s (stream_ingest)",
    "query.symbol_history.p50_s": "op_p50_s (mart_query)",
    "query.close_stats.p50_s": "op_p50_s (mart_query)",
    "query.screen_latest.p50_s": "op_p50_s (mart_query)",
    "scan.files_read_per_query": "op_p50_s (mart_query)",
    "scan.bytes_read_per_query": "op_p50_s (mart_query)",
    "scan.rows_read_per_row_returned": "op_p50_s (mart_query)",
    "spark.jobs": "op_p50_s (all)",
    "spark.stages": "op_p50_s (all)",
    "spark.tasks": "op_p50_s (all)",
    "spark.shuffle_read_bytes": "op_p50_s (all)",
    "spark.shuffle_write_bytes": "op_p50_s (all)",
    "spark.spill_bytes": "op_p50_s (all)",
    "spark.executor_cpu_s": "cpu_s_per_op (all)",
    "spark.gc_s": "cpu_s_per_op (all)",
    "spark.peak_execution_memory_mb": "proc.peak_rss_mb (all)",
    "proc.peak_rss_mb": "memory footprint (all); too unsteady to gate",
    "trace.op_p50_s": "tracing overhead against op_p50_s (all)",
}


def install(tracer: Tracer, workload) -> None:
    """Wrap the public calls into each layer (see spans.py)."""
    from crypto_prediction_etl_spark import session
    from crypto_prediction_etl_spark.plans import pipeline
    from crypto_prediction_etl_spark.quality import checks
    from crypto_prediction_etl_spark.sources import writers
    from crypto_prediction_etl_spark.streaming import sinks

    def count_files(rec, _result, args, _kwargs):
        rec["files"], rec["bytes"], rec["parts"] = files_under(args[1], rec["start"])

    def compute(rec, result, _args, _kwargs):
        # the plan is lazy; materialise it once into the noop sink so the
        # indicator compute shows apart from the write that follows
        with tracer.span("indicators.compute"):
            result.write.format("noop").mode("overwrite").save()

    tracer.wrap(session, "get_spark", "session.get_spark")
    for name in ("write_partitioned", "delete_partitions", "verify_deletion"):
        tracer.wrap(writers, name, f"writers.{name}",
                    count_files if name == "write_partitioned" else None)
    tracer.wrap(pipeline, "reload_window", "writers.reload_window", count_files)
    tracer.wrap(pipeline, "indicator_frame", "indicators.plan", compute)
    tracer.wrap(pipeline, "check_unique", "checks.check_unique")
    tracer.wrap(pipeline, "check_not_null", "checks.check_not_null")
    tracer.wrap(pipeline, "run_indicator_mart", "pipeline.run_indicator_mart")
    tracer.wrap(checks, "check_freshness", "checks.check_freshness")
    tracer.wrap(checks, "check_row_count_parity", "checks.row_count")
    tracer.wrap(sinks, "start_file_stream_pipeline", "sinks.start_file_stream_pipeline")
    tracer.wrap(sinks, "compact_hot_table", "sinks.compact_hot_table")
    for q in ("symbol_history", "close_stats", "screen_latest"):
        if hasattr(workload, q):
            tracer.wrap(workload, q, f"query.{q}")


def _units(tracer: Tracer, name: str) -> dict[str, list[int]]:
    """Units holding spans called ``name``: timed ops if any, else
    set-up repetitions, else whatever holds them (the session build)."""
    by_unit: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(tracer.spans):
        if s["name"] == name:
            by_unit[s["unit"]].append(i)
    ops = {u: v for u, v in by_unit.items() if u.startswith("op:")}
    if ops:
        return ops
    setup = {u: v for u, v in by_unit.items() if u.startswith("setup:")}
    return setup or by_unit


def layer_time(tracer: Tracer, name: str, self_only: bool = False,
               minus_child: str | None = None) -> float:
    """Median over units of the summed span durations; ``self_only``
    takes every child span out, ``minus_child`` only children of that
    name."""
    spans = tracer.spans

    def dur(i: int) -> float:
        if self_only:
            return tracer.self_time(i)
        return spans[i]["end"] - spans[i]["start"] - sum(
            c["end"] - c["start"] for c in spans
            if c["parent"] == i and c["name"] == minus_child
        )

    return median_or_zero(sum(dur(i) for i in idxs) for idxs in _units(tracer, name).values())


def layer_count(tracer: Tracer, names: tuple[str, ...], key: str) -> float:
    per_unit: dict[str, float] = defaultdict(float)
    for name in names:
        for unit, idxs in _units(tracer, name).items():
            per_unit[unit] += sum(tracer.spans[i].get(key, 0) for i in idxs)
    return median_or_zero(per_unit.values())


def per_layer(tracer: Tracer, jobs: list[dict], wl, run, window: tuple[float, float]) -> dict:
    by_span = attribute_jobs(tracer, jobs)
    out: dict[str, float] = {}
    t = lambda n, **k: layer_time(tracer, n, **k)  # noqa: E731
    out["session.get_spark_s"] = t("session.get_spark")
    for n in ("reload_window", "write_partitioned", "delete_partitions"):
        out[f"writers.{n}_s"] = t(f"writers.{n}")
    names = ("writers.reload_window", "writers.write_partitioned")
    out["writers.files_written"] = layer_count(tracer, names, "files")
    out["writers.bytes_written"] = layer_count(tracer, names, "bytes")
    out["writers.partitions_written"] = layer_count(tracer, names, "parts")
    out["indicators.plan_s"] = t("indicators.plan")
    out["indicators.compute_s"] = t("indicators.compute")
    out["checks.check_unique_s"] = t("checks.check_unique")
    out["checks.check_not_null_s"] = t("checks.check_not_null")
    out["checks.row_count_s"] = t("checks.row_count")
    # the traced run's own noop pass (indicators.compute) is not work
    # the package does, so it is taken out of the pipeline's time
    out["pipeline.run_indicator_mart_s"] = t(
        "pipeline.run_indicator_mart", minus_child="indicators.compute"
    )
    out["pipeline.run_indicator_mart_self_s"] = t("pipeline.run_indicator_mart", self_only=True)

    def span_jobs(names: tuple[str, ...], units=None) -> list[dict]:
        got = []
        for i, s in enumerate(tracer.spans):
            if s["name"] in names and (units is None or s["unit"] in units):
                got.extend(by_span.get(i, ()))
        return got

    written_units = set(_units(tracer, "writers.reload_window"))
    written = sum(j["out_records"] for j in span_jobs(("writers.reload_window",), written_units))
    check_names = ("checks.check_unique", "checks.check_not_null",
                   "checks.check_freshness", "checks.row_count")
    scanned = sum(j["in_records"] for j in span_jobs(check_names, written_units))
    out["checks.rows_scanned_per_row_written"] = scanned / written if written else 0.0

    drains = [d for d in getattr(wl, "drains", ()) if d is not None]
    batches = [p for d in drains for p in d["progress"]]
    for key, dur in (("add_batch", "addBatch"), ("latest_offset", "latestOffset"),
                     ("query_planning", "queryPlanning"), ("wal_commit", "walCommit"),
                     ("commit_offsets", "commitOffsets")):
        out[f"stream.{key}_ms"] = median_or_zero(p["durationMs"].get(dur, 0) for p in batches)
    msgs = sum(d["msgs"] for d in drains)
    out["stream.rows_per_msg"] = sum(d.get("landed", 0) for d in drains) / msgs if msgs else 0.0
    for topic in ("market_trade", "order_book", "candles_minute"):
        out[f"stream.{topic}.msgs_per_s"] = median_or_zero(
            d["msgs"] / d["drain_s"] for d in drains if d["topic"] == topic
        )
    files = size = 0
    for d in drains:
        f, b, _ = files_under(d["out"], 0.0)
        files, size = files + f, size + b
    out["sinks.files_per_batch"] = files / len(batches) if batches else 0.0
    out["sinks.bytes_per_batch"] = size / len(batches) if batches else 0.0
    out["sinks.compact_hot_table_s"] = t("sinks.compact_hot_table")
    landed = sum(d.get("landed", 0) for d in drains)
    out["sinks.dup_collapse_ratio"] = (
        sum(d["compacted"] for d in drains) / landed if landed else 0.0
    )

    per_type = getattr(wl, "per_type", {})
    for q in ("symbol_history", "close_stats", "screen_latest"):
        out[f"query.{q}.p50_s"] = median_or_zero(per_type.get(q, ()))
    qnames = ("query.symbol_history", "query.close_stats", "query.screen_latest")
    qunits = {f"op:{i}" for i in range(getattr(wl, "queries", 0))}
    qjobs = span_jobs(qnames, qunits)
    n_q = len(qunits)
    returned = sum(n for _, n in getattr(wl, "returned", ()))
    out["scan.files_read_per_query"] = sum(j["files_read"] for j in qjobs) / n_q if n_q else 0.0
    out["scan.bytes_read_per_query"] = sum(j["in_bytes"] for j in qjobs) / n_q if n_q else 0.0
    out["scan.rows_read_per_row_returned"] = (
        sum(j["in_records"] for j in qjobs) / returned if returned else 0.0
    )

    t0, t1 = window
    timed = [j for j in jobs if t0 <= j["submit"] <= t1]
    ops = max(1, wl.attempted())
    out["spark.jobs"] = len(timed) / ops
    out["spark.stages"] = sum(len(j["stages"]) for j in timed) / ops
    out["spark.tasks"] = sum(j["tasks"] for j in timed) / ops
    out["spark.shuffle_read_bytes"] = sum(j["shuffle_read"] for j in timed) / ops
    out["spark.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in timed) / ops
    out["spark.spill_bytes"] = sum(j["spill"] for j in timed) / ops
    out["spark.executor_cpu_s"] = sum(j["cpu_ns"] for j in timed) / 1e9 / ops
    out["spark.gc_s"] = sum(j["gc_ms"] for j in timed) / 1e3 / ops
    out["spark.peak_execution_memory_mb"] = max((j["peak_mem"] for j in timed), default=0) / 2**20
    out["trace.op_p50_s"] = statistics.median(run.op_latencies) if run.op_latencies else 0.0
    return out

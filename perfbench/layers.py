"""Per-layer metrics of the traced run, grouped by engine module.

LAYERS maps each metric to (what it should move, where it should not
move); BENCHMARK.json gives its unit and direction. "Should move"
names the end-to-end metric (the generic ``op_p50_ms`` /
``op_tail_ms`` of BENCHMARK.json, or a workload's named metric printed
beside it) and the workload; the prediction for the listed workloads
is no change.

Sources: the W loop is the traced closed loop of the run's workload
(per-operation means); the pass is one traced operation of every
workload plus direct calls into single layers (rollup tiers, bare
cascade, decode, books, kernels outside Spark), the same in every
traced run.
"""

from __future__ import annotations

from harness import median
from spans import SCAN, WRITE, merged, self_times, subtree, union_length

LAYERS = {
    # session (driver side) — W loop
    "session.driver_s": ("op_p50_ms (read_p50_ms) on tier_reads, "
                         "op_p50_ms (stream_batch_p50_ms) on stream_books", "rollup_ingest"),
    "session.sql_executions": ("op_p50_ms on tier_reads and stream_books", "rollup_ingest"),
    # sources (table_io parquet) — scans of the tier_reads pass, writes of the fresh rollup
    "sources.scan_files": ("op_p50_ms (read_*) on tier_reads", "lead_lag"),
    "sources.scan_bytes": ("op_p50_ms (read_*) on tier_reads", "lead_lag"),
    "sources.list_ms": ("op_p50_ms (read_*) on tier_reads", "lead_lag"),
    "sources.scan_partitions": ("op_p50_ms (read_*) on tier_reads", "lead_lag"),
    "sources.write_files": ("rollup_turns_per_s on rollup_ingest",
        "lead_lag, stream_books"),
    "sources.write_bytes": ("rollup_turns_per_s on rollup_ingest",
        "lead_lag, stream_books"),
    # operators.rollup — direct rollup_from_raw / rollup_cascade + write_tier
    "rollup.tier_s.1m": ("rollup_turns_per_s on rollup_ingest", "lead_lag, stream_books"),
    "rollup.tier_s.1h": ("rollup_turns_per_s on rollup_ingest", "lead_lag, stream_books"),
    "rollup.tier_s.1d": ("rollup_turns_per_s on rollup_ingest", "lead_lag, stream_books"),
    "rollup.shuffle_bytes": ("rollup_turns_per_s on rollup_ingest", "lead_lag"),
    "rollup.spill_bytes": ("rollup_turns_per_s on rollup_ingest", "lead_lag"),
    "rollup.task_skew": ("rollup_turns_per_s on rollup_ingest", "lead_lag"),
    # lineage
    "lineage.overhead_s": ("rollup_turns_per_s and resume_s on rollup_ingest",
        "tier_reads, lead_lag, stream_books"),
    "lineage.resume_scan_ratio": ("resume_s on rollup_ingest",
        "tier_reads, lead_lag, stream_books"),
    "lineage.resume_days_ratio": ("resume_s on rollup_ingest",
        "tier_reads, lead_lag, stream_books"),
    # compression.gorilla
    "gorilla.encode_s": ("compress_turns_per_s on rollup_ingest", "lead_lag, stream_books"),
    "gorilla.block_bytes": ("block_bytes_per_turn on rollup_ingest",
        "lead_lag, stream_books"),
    "gorilla.decode_s": ("op_p50_ms (read_*) on tier_reads", "lead_lag, stream_books"),
    # operators.gapfill
    "gapfill.s": ("op_p50_ms (read_*) on tier_reads", "rollup_ingest, lead_lag"),
    "gapfill.spine_rows": ("op_p50_ms (read_*) on tier_reads", "rollup_ingest, lead_lag"),
    "gapfill.filled_ratio": ("op_p50_ms (read_*) on tier_reads", "rollup_ingest, lead_lag"),
    # operators.guess_lag / operators.windows
    "guess_lag.books_s": ("lead_lag_s on lead_lag", "rollup_ingest, tier_reads"),
    "guess_lag.pairs": ("lead_lag_s on lead_lag", "rollup_ingest, tier_reads"),
    "guess_lag.shuffle_bytes": ("lead_lag_s on lead_lag", "rollup_ingest, tier_reads"),
    "udf.python_bytes_in": ("lead_lag_s and acf_series_per_s on lead_lag",
        "rollup_ingest, tier_reads"),
    "udf.python_bytes_out": ("lead_lag_s and acf_series_per_s on lead_lag",
        "rollup_ingest, tier_reads"),
    # functions.kernels — outside Spark, same arrays
    "kernels.xcor_ms_per_pair": ("lead_lag_s on lead_lag", "rollup_ingest, tier_reads"),
    "kernels.sacf_us_per_series": ("acf_series_per_s on lead_lag",
        "rollup_ingest, tier_reads"),
    # operators.correlate
    "correlate.acf_s": ("acf_series_per_s on lead_lag", "rollup_ingest, tier_reads"),
    "correlate.series": ("acf_series_per_s on lead_lag", "rollup_ingest, tier_reads"),
    "correlate.skipped_ratio": ("acf_series_per_s on lead_lag",
        "rollup_ingest, tier_reads"),
    # streaming (recentProgress)
    "streaming.trigger_ms": ("op_p50_ms (stream_batch_*) on stream_books",
        "rollup_ingest, tier_reads, lead_lag"),
    "streaming.add_batch_ms": ("op_p50_ms (stream_batch_*) on stream_books",
        "rollup_ingest, tier_reads, lead_lag"),
    "streaming.commit_ms": ("op_p50_ms (stream_batch_*) on stream_books",
        "rollup_ingest, tier_reads, lead_lag"),
    "streaming.state_rows": ("stream_rows_per_s on stream_books",
        "rollup_ingest, tier_reads, lead_lag"),
    "streaming.state_bytes": ("stream_rows_per_s on stream_books",
        "rollup_ingest, tier_reads, lead_lag"),
    "streaming.state_commit_ms": ("op_p50_ms (stream_batch_*) on stream_books",
        "rollup_ingest, tier_reads, lead_lag"),
    # the Spark engine — event-log totals per operation of the W loop
    "spark.executor_run_s": ("op_p50_ms on the run's workload", ""),
    "spark.executor_cpu_s": ("op_p50_ms on the run's workload", ""),
    "spark.gc_s": ("op_p50_ms on the run's workload", ""),
    "spark.shuffle_write_bytes": ("op_p50_ms on the run's workload", ""),
    "spark.spill_bytes": ("op_p50_ms and peak_rss_mb on the run's workload", ""),
    "spark.tasks": ("op_p50_ms on the run's workload", ""),
    # the benchmark itself
    "bench.self_s": ("nothing: the benchmark's own time per operation", "all"),
    "trace.overhead_ratio": ("nothing: traced over untraced op_p50_ms", "all"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def assemble(spans, counters, loop_roots, pass_first, probes, raw_path, overhead) -> dict:
    """Every per-layer metric from the traced run's spans, the event-log
    counters per span and the direct probes."""
    selfs = self_times(spans)
    pass_spans = spans[pass_first:]

    def named(name):
        found = [s for s in pass_spans if s.name == name]
        if not found:
            raise KeyError(f"traced pass has no span {name!r}")
        return found[-1]

    def tree(span):
        return merged(counters, subtree(spans, span.id))

    out: dict[str, float] = {}
    # W loop: per-operation means
    loops = [(r, tree(r)) for r in loop_roots]
    out["session.driver_s"] = _mean(
        r.wall - union_length((max(a, r.start), min(b, r.end)) for a, b in c.sql_intervals)
        for r, c in loops)
    out["session.sql_executions"] = _mean(len(c.sql_intervals) for _, c in loops)
    out["spark.executor_run_s"] = _mean(c.executor_run_ms / 1e3 for _, c in loops)
    out["spark.executor_cpu_s"] = _mean(c.executor_cpu_ns / 1e9 for _, c in loops)
    out["spark.gc_s"] = _mean(c.gc_ms / 1e3 for _, c in loops)
    out["spark.shuffle_write_bytes"] = _mean(c.shuffle_write_bytes for _, c in loops)
    out["spark.spill_bytes"] = _mean(c.spill_bytes for _, c in loops)
    out["spark.tasks"] = _mean(c.tasks for _, c in loops)
    out["bench.self_s"] = _mean(selfs[r.id] for r in loop_roots)
    out["trace.overhead_ratio"] = overhead

    # sources: scans per tier_reads operation, writes of the fresh rollup
    reads = [tree(s) for s in pass_spans if s.name == "op.tier_reads"]
    out["sources.scan_files"] = median(c.metric(SCAN, "number of files read") for c in reads)
    out["sources.scan_bytes"] = median(c.metric(SCAN, "size of files read") for c in reads)
    # file listing and planning of read_resolution: Spark's own scan
    # "metadata time" reads 0 ms at this size, so time the call instead
    out["sources.list_ms"] = median(
        1e3 * s.wall for s in pass_spans if s.name == "rollup.read_resolution")
    out["sources.scan_partitions"] = median(
        c.metric(SCAN, "number of partitions read") for c in reads)
    fresh = named("lineage.incremental_rollup")
    fc = tree(fresh)
    out["sources.write_files"] = fc.metric(WRITE, "number of written files")
    out["sources.write_bytes"] = fc.metric(WRITE, "written output")

    # rollup tiers, called directly
    tiers = [named(f"rollup.tier.{t}") for t in ("1m", "1h", "1d")]
    for t, s in zip(("1m", "1h", "1d"), tiers):
        out[f"rollup.tier_s.{t}"] = s.wall
    tc = merged(counters, set().union(*(subtree(spans, s.id) for s in tiers)))
    out["rollup.shuffle_bytes"] = tc.shuffle_write_bytes
    out["rollup.spill_bytes"] = tc.spill_bytes
    out["rollup.task_skew"] = tree(tiers[0]).skew()

    # lineage
    ri = probes["rollup_ingest"]
    out["lineage.overhead_s"] = fresh.wall - sum(s.wall for s in tiers)
    resume = tree(named("lineage.resume"))
    out["lineage.resume_scan_ratio"] = (
        resume.metric(SCAN, "size of files read", location=raw_path) / ri["append_bytes"])
    out["lineage.resume_days_ratio"] = ri["resume_days_ratio"]

    # gorilla
    out["gorilla.encode_s"] = named("gorilla.compress_partitions").wall
    out["gorilla.block_bytes"] = ri["block_bytes"]
    out["gorilla.decode_s"] = named("gorilla.decompress_partitions").wall

    # gapfill, per tier_reads query that filled
    gaps = probes["tier_reads"]["gapfill"]
    out["gapfill.s"] = median(g[0] for g in gaps)
    out["gapfill.spine_rows"] = median(g[1] for g in gaps)
    out["gapfill.filled_ratio"] = sum(g[2] for g in gaps) / max(1, sum(g[1] for g in gaps))

    # guess_lag, the UDF boundary, kernels, correlate
    ll = probes["lead_lag"]
    gl, acf = named("guess_lag.guess_lag"), named("correlate.sacf_by_key_batched")
    out["guess_lag.books_s"] = named("guess_lag.books").wall
    out["guess_lag.pairs"] = ll["pairs"]
    out["guess_lag.shuffle_bytes"] = tree(gl).shuffle_write_bytes
    udf = merged(counters, subtree(spans, gl.id) | subtree(spans, acf.id))
    out["udf.python_bytes_in"] = udf.metric(None, "data sent to Python workers")
    out["udf.python_bytes_out"] = udf.metric(None, "data returned from Python workers")
    out["kernels.xcor_ms_per_pair"] = ll["xcor_ms_per_pair"]
    out["kernels.sacf_us_per_series"] = ll["sacf_us_per_series"]
    out["correlate.acf_s"] = acf.wall
    out["correlate.series"] = ll["acf_series"]
    out["correlate.skipped_ratio"] = ll["acf_skipped_ratio"]

    # streaming, from recentProgress of the pass's query
    prog = probes["stream_books"]["progress"]
    dur = [p["durationMs"] for p in prog]
    state = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
    # per-batch means: Spark reports whole milliseconds
    out["streaming.trigger_ms"] = _mean(d.get("triggerExecution", 0) for d in dur)
    out["streaming.add_batch_ms"] = _mean(d.get("addBatch", 0) for d in dur)
    out["streaming.commit_ms"] = _mean(d.get("commitOffsets", 0) for d in dur)
    out["streaming.state_rows"] = state[-1]["numRowsTotal"] if state else 0
    out["streaming.state_bytes"] = state[-1]["memoryUsedBytes"] if state else 0
    out["streaming.state_commit_ms"] = _mean(s.get("commitTimeMs", 0) for s in state)

    return out

"""The repository benchmark: the engine's public entry points on four
seeded workloads, with end-to-end metrics and, traced, per-layer ones.

    python3 perfbench/run.py --workload rollup_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload tier_reads --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload all --seed 1 --seconds 10
    python3 perfbench/selftest.py

Run from the repository root (any directory works: the engine is found
next to this directory). Workloads: rollup_ingest, lead_lag,
tier_reads, stream_books (see workloads.py); each is a closed loop with
one client. BENCHMARK.json times the first two; the others run on
request, and every traced run measures all four layers' calls. Inputs
are generated from --seed and cached per (seed, size) in
perfbench/.cache; each run keeps its record in perfbench/.runs/<run id>/.

--trace 0 prints the end-to-end metrics of BENCHMARK.json: set-up time
(median of repeated session restarts on the running driver JVM, each
with load and warm-up), operation latency median and 90th percentile
(a run has too few operations for the percentile with ten samples
beyond it to lie above the median; that one is printed beside it) and
peak memory. The first operation of a loop is checked but not timed.
Printed on the lines before the result: operations per second, the
workload's named metrics (rollup_turns_per_s, read_p50_ms, ...) and
cold_start_s, the one launch of the driver JVM and its first session.
--trace 1 prints the per-layer metrics of layers.py. --workload all
runs every workload once in one session and prints every named metric
with failed_ratio.

The last stdout line is one JSON object with the keys correct,
attempted, failed and metrics. The exit code is 0 only when a result
was printed; an engine that cannot be imported exits with 2.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import signal
import sys
import time
import traceback
import uuid

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
RUNS = HERE / ".runs"

#: set-up is repeated this many times per run; setup_s is the median
SETUPS = 3
#: a run that has not finished by then stops the engine and exits
#: non-zero, printing nothing; a shutdown that hangs is cut GRACE_S later
WATCHDOG_S = 160
GRACE_S = 15
#: a loop whose operations failed this often ends
MAX_FAILED_OPS = 3
#: the traced pass visits every workload in this order (tier_reads
#: reads what set-up stored, not what rollup_ingest writes)
PASS_ORDER = ("rollup_ingest", "tier_reads", "lead_lag", "stream_books")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Watchdog(BaseException):
    """Not an Exception: no handler for a failed operation may swallow it."""


def _kill(signum, frame):
    """The watchdog's second expiry: the JVM is killed and waited for."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    os._exit(1)


def _timeout(signum, frame):
    signal.signal(signal.SIGALRM, _kill)
    signal.alarm(GRACE_S)
    raise Watchdog(f"run exceeded {WATCHDOG_S} s")


def main(argv=None) -> int:
    args = parse(argv)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    run_id = uuid.uuid4().hex[:8]
    run_dir = RUNS / run_id
    work = run_dir / "work"
    import harness

    env = harness.pin_environment(ROOT, work)
    try:
        import tits_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    if args.workload not in WORKLOADS and args.workload != "all":
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)} or all", file=sys.stderr)
        return 2
    if args.workload == "all" and args.trace:
        print("perfbench: --trace 1 needs one workload", file=sys.stderr)
        return 2

    engine = harness.Engine(work, env["cores"])
    try:
        bench = Bench(args, engine, run_id, run_dir)
        if args.workload == "all":
            result = bench.run_all()
        elif args.trace:
            result = bench.run_traced()
        else:
            result = bench.run_one()
    except (Exception, Watchdog):  # noqa: BLE001 — the boundary: report and exit non-zero
        traceback.print_exc()
        return 1
    finally:
        try:
            engine.shutdown()
        finally:
            signal.alarm(0)
            shutil.rmtree(work, ignore_errors=True)
    (run_dir / "run.json").write_text(json.dumps(
        {"args": vars(args), "env": env, "inputs": bench.inputs.meta,
         "samples_ms": bench.samples_ms, "result": result,
         "check_failures": bench.checks.notes}, indent=1))
    print(json.dumps(result))
    return 0


class Bench:
    def __init__(self, args, engine, run_id, run_dir):
        from checks import Checks
        from data import Inputs
        from harness import RssSampler, spec
        from spans import Tracer

        self.spec = spec(ROOT)
        self.args = args
        self.engine = engine
        self.run_dir = run_dir
        self.work = run_dir / "work"
        self.checks = Checks()
        self.tracer = Tracer(run_id)
        self.inputs = Inputs(CACHE, args.seed)
        self.rss = RssSampler()
        self.ops = 0
        self.failed_ops = 0
        self.samples_ms: list[float] = []
        self.cold_start_s = 0.0
        self.t_phase = time.perf_counter()

    def _phase(self, what):
        now = time.perf_counter()
        print(f"perfbench: {what} {now - self.t_phase:.2f} s", file=sys.stderr)
        self.t_phase = now

    def _boot(self, names):
        from workloads import WORKLOADS, Ctx

        t0 = time.perf_counter()
        spark = self.engine.start()
        self.cold_start_s = time.perf_counter() - t0
        self._phase("session start")
        self.inputs.ensure(spark, {p for n in names for p in WORKLOADS[n].needs})
        self._phase("inputs")
        ctxs = {}
        for n in names:
            ctx = Ctx(spark, self.tracer, self.inputs, self.work / n, self.args.seed,
                      self.checks)
            ctx.work.mkdir(parents=True, exist_ok=True)
            WORKLOADS[n].prepare(ctx)
            ctxs[n] = ctx
        return ctxs

    def _restart(self, ctxs, event_log_dir=None):
        self.engine.stop()
        spark = self.engine.start(event_log_dir)
        for ctx in ctxs.values():
            ctx.spark = spark
        return spark

    def _setup(self, wl, ctx, ctxs, event_log_dir=None) -> float:
        t0 = time.perf_counter()
        self._restart(ctxs, event_log_dir)
        self._phase("  session start")
        wl.load(ctx)
        self._phase("  load")
        wl.warm(ctx)
        self._phase("  warm-up")
        return time.perf_counter() - t0

    def _loop(self, wl, ctx, seconds, alternate=False):
        """With ``alternate``, the timed operations are untraced and traced
        in turn, at least two of each, so a warming trend falls on both."""
        from harness import Loop

        results = []
        loop = Loop(seconds, min_ops=4 if alternate else Loop.MIN_OPS)
        i = failed = 0
        while (i == 0 or loop.more(len(results))) and failed < MAX_FAILED_OPS:
            self.tracer.active = alternate and i > 0 and i % 2 == 0
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"op.{wl.name}") as sp:
                    r = wl.op(ctx, i)
                self.ops += 1
                # the first operation is checked, not timed: it starts the
                # Python workers and compiles what the set-up's warm-up did not
                if i > 0:
                    r["span"], r["traced"] = sp, self.tracer.active
                    results.append(r)
                    loop.busy += r["wall"]
            except Exception:  # noqa: BLE001 — a failed operation is counted, the loop goes on
                traceback.print_exc()
                loop.busy += time.perf_counter() - t0
                failed += 1
                self.failed_ops += 1
            i += 1
        self.tracer.active = False
        if not results:
            raise RuntimeError(f"{wl.name}: every operation failed")
        return results

    def _units(self, kind) -> dict:
        return {m["name"]: m["unit"] for m in self.spec[kind]}

    def _result(self, metrics) -> dict:
        failed = self.failed_ops + self.checks.failed
        attempted = self.ops + self.failed_ops + self.checks.attempted
        for note in self.checks.notes:
            print(f"check failed: {note}")
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}

    @staticmethod
    def _print_named(named):
        for name, (value, unit, *note) in named.items():
            print(f"{name} {value:.6g} {unit}" + (f" ({note[0]})" if note else ""))

    def run_one(self) -> dict:
        from harness import cpu_times, median, p90, steal_share, tail
        from workloads import WORKLOADS

        wl = WORKLOADS[self.args.workload]
        ctxs = self._boot([wl.name])
        ctx = ctxs[wl.name]
        self._phase("prepare")
        setup = [self._setup(wl, ctx, ctxs) for _ in range(SETUPS)]
        self._phase("set-up")
        # the loop starts from a collected heap, whatever generating the
        # inputs and the set-ups left committed (G1 uncommits after a full GC)
        self.engine.collect()
        self.rss.start()
        cpu0 = cpu_times()
        results = self._loop(wl, ctx, self.args.seconds)
        steal = steal_share(cpu0, cpu_times())
        peak = self.rss.stop()
        self._phase("loop")
        lat = [1000.0 * s for r in results for s in r["samples"]]
        self.samples_ms = lat
        e2e = {
            "setup_s": median(setup),
            "op_p50_ms": median(lat),
            "op_tail_ms": p90(lat),
            "peak_rss_mb": peak / 2**20,
        }
        units = self._units("end_to_end")
        self._print_named({k: (v, units[k]) for k, v in e2e.items()})
        rule_ms, pct, n = tail(lat)
        print(f"op_tail_ms is p90 of {n} samples in {len(results)} operations; the highest "
              f"percentile with ten samples beyond it is p{pct:.0f} = {rule_ms:.6g} ms")
        self._print_named({
            "ops_per_s": (len(lat) / sum(r["wall"] for r in results), "ops/s"),
            **wl.named(ctx, results),
            "cold_start_s": (self.cold_start_s, "s", "driver JVM launch and first session"),
            "host_steal_ratio": (steal, "ratio", "CPU time taken by other guests in the loop"),
        })
        return self._result({
            k: {"value": v, "unit": units[k]} for k, v in e2e.items()})

    def run_all(self) -> dict:
        from workloads import WORKLOADS

        names = list(WORKLOADS)
        ctxs = self._boot(names)
        setup = 0.0
        named = {}
        self.rss.start()
        for n in names:
            wl, ctx = WORKLOADS[n], ctxs[n]
            setup += self._setup(wl, ctx, ctxs)
            results = self._loop(wl, ctx, self.args.seconds)
            named.update(wl.named(ctx, results))
        named["setup_s"] = (setup, "s")
        named["cold_start_s"] = (self.cold_start_s, "s")
        named["peak_rss_mb"] = (self.rss.stop() / 2**20, "MB")
        attempted = self.ops + self.failed_ops + self.checks.attempted
        named["failed_ratio"] = (
            (self.failed_ops + self.checks.failed) / attempted, "ratio")
        self._print_named(named)
        return self._result({
            k: {"value": v[0], "unit": v[1]} for k, v in named.items()})

    def run_traced(self) -> dict:
        import layers
        from harness import median
        from spans import read_event_log, reduce_event_log
        from workloads import WORKLOADS

        wl = WORKLOADS[self.args.workload]
        ctxs = self._boot(list(PASS_ORDER))
        ctx = ctxs[wl.name]
        # one session with the event log on; tracing overhead is the ratio
        # of the traced to the untraced operations' median (spans and job
        # labels: the event log runs under both)
        log_dir = self.run_dir / "eventlog"
        self._setup(wl, ctx, ctxs, log_dir)
        self.tracer.sc = ctx.spark.sparkContext
        results = self._loop(wl, ctx, self.args.seconds, alternate=True)
        base = [r for r in results if not r["traced"]]
        traced = [r for r in results if r["traced"]]
        self._phase("loop")
        pass_first = len(self.tracer.spans)
        probes = {}
        for n in PASS_ORDER:
            if n != wl.name:
                # loaded, warmed and run once untraced, as the traced
                # workload was, so no layer's figure includes a cold start
                WORKLOADS[n].load(ctxs[n])
                WORKLOADS[n].warm(ctxs[n])
                WORKLOADS[n].op(ctxs[n], 0)
                self.ops += 1
            self.tracer.active = True
            probes[n] = WORKLOADS[n].trace_pass(ctxs[n])
            self.tracer.active = False
            self._phase(f"pass {n}")
        self.engine.stop()  # closes the event log

        counters = reduce_event_log(read_event_log(log_dir), self.tracer.groups)
        overhead = (median([s for r in traced for s in r["samples"]])
                    / median([s for r in base for s in r["samples"]]))
        metrics = layers.assemble(
            self.tracer.spans, counters, [r["span"] for r in traced], pass_first,
            probes, str(self.inputs.raw), overhead)
        self.tracer.write(self.run_dir / "spans.json", counters)
        self._phase("event log")
        shutil.rmtree(log_dir, ignore_errors=True)
        units = self._units("per_layer")
        if set(metrics) != set(units):
            raise KeyError(f"per-layer metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
        for k, v in metrics.items():
            print(f"{k} {v:.6g} {units[k]}")
        return self._result({
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()})


if __name__ == "__main__":
    sys.exit(main())

"""The four workloads. Each is a closed loop with one client: the next
call starts only after the previous one returns.

A workload names the inputs it needs, loads them (part of set-up),
warms up on a small slice (also set-up), and runs one operation at a
time. ``op`` returns the latencies it observed (``samples``) and the
time it was busy (``wall``); it checks its outputs outside the timed
regions. ``trace_pass`` runs one operation plus the direct layer
probes the traced run reports.
"""

from __future__ import annotations

import datetime as dt
import pathlib
import shutil
import time

import duckdb
import numpy as np
import pandas as pd

from checks import (
    blocks_roundtrip_ok, book_replay, gapfill_oracle, raw_day, rows_equal,
    tier_mismatches,
)
from data import SIZES, parquet_glob


class Ctx:
    """What an operation needs: the session, tracer, inputs, a private
    work directory, the run's seed and its check ledger."""

    def __init__(self, spark, tracer, inputs, work: pathlib.Path, seed: int, checks):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.work = work
        self.seed = seed
        self.checks = checks
        self.state: dict = {}


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class Workload:
    name = ""
    needs: tuple[str, ...] = ()

    def prepare(self, ctx: Ctx) -> None:
        """Benchmark-side preparation that is not the program's set-up."""

    def load(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def warm(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def op(self, ctx: Ctx, i: int) -> dict:
        raise NotImplementedError

    def named(self, ctx: Ctx, results: list[dict]) -> dict:
        raise NotImplementedError

    def trace_pass(self, ctx: Ctx) -> dict:
        raise NotImplementedError


# ------------------------------------------------------------ rollup_ingest

class RollupIngest(Workload):
    """Fresh raw -> 1m -> 1h -> 1d rollup with lineage, Gorilla blocks,
    then an appended batch of later days and a resumed rollup."""

    name = "rollup_ingest"
    needs = ("raw", "append")

    def load(self, ctx):
        ctx.spark.read.parquet(str(ctx.inputs.raw), str(ctx.inputs.append)).count()

    def warm(self, ctx):
        from pyspark.sql import functions as F
        from tits_spark.compression.gorilla import compress_partitions
        from tits_spark.operators.rollup import rollup_from_raw

        day = dt.date.fromisoformat(ctx.inputs.meta["last_day"])
        one = ctx.spark.read.parquet(str(ctx.inputs.raw)).where(F.to_date("ts") == F.lit(day))
        for df in (rollup_from_raw(one),
                   compress_partitions(one.select(F.col("conv_id").alias("key"), "ts", "value"))):
            df.write.format("noop").mode("overwrite").save()

    def op(self, ctx, i):
        from pyspark.sql import functions as F
        from tits_spark.compression.gorilla import compress_partitions
        from tits_spark.lineage import incremental_rollup

        spark, tr, inp, meta = ctx.spark, ctx.tracer, ctx.inputs, ctx.inputs.meta
        d = ctx.work / "ingest"
        shutil.rmtree(d, ignore_errors=True)
        tiers, metrics, blocks = d / "tiers", d / "metrics", d / "blocks"
        check = i == 0

        def fresh():
            with tr.span("lineage.incremental_rollup"):
                raw = spark.read.parquet(str(inp.raw))
                return incremental_rollup(spark, raw, str(tiers), str(metrics))

        def compress():
            with tr.span("gorilla.compress_partitions"):
                raw = spark.read.parquet(str(inp.raw))
                compress_partitions(raw.select(F.col("conv_id").alias("key"), "ts", "value")) \
                    .write.mode("overwrite").parquet(str(blocks))

        def resume():
            with tr.span("lineage.resume"):
                both = spark.read.parquet(str(inp.raw), str(inp.append))
                return incremental_rollup(spark, both, str(tiers), str(metrics))

        done, fresh_s = _timed(fresh)
        ctx.checks.expect(
            "rollup: fresh run processes every base day",
            all(done.get(f"tier_{t}") == meta["base_days"] for t in ("1m", "1h", "1d")),
            f"{done} vs {meta['base_days']} days")
        if check:
            self._check_tiers(ctx, [inp.raw], tiers, "after fresh run")
        _, compress_s = _timed(compress)
        if check:
            from tits_spark.compression.gorilla import decompress_partitions
            decoded = decompress_partitions(spark.read.parquet(str(blocks))).toPandas()
            ctx.checks.expect("gorilla: blocks decode to the input bit for bit",
                              blocks_roundtrip_ok(decoded, inp.raw))
        resumed, resume_s = _timed(resume)
        ctx.checks.expect(
            "rollup: resume processes exactly the appended days",
            all(resumed.get(f"tier_{t}") == meta["append_days"] for t in ("1m", "1h", "1d")),
            f"{resumed} vs {meta['append_days']} days")
        if check:
            self._check_tiers(ctx, [inp.raw, inp.append], tiers, "after resume")
            self._check_lineage(ctx, tiers, metrics)
        ctx.state["block_bytes"] = duckdb.sql(
            f"select sum(octet_length(block)) from read_parquet('{parquet_glob(blocks)}')"
        ).fetchone()[0]
        wall = fresh_s + compress_s + resume_s
        return {"samples": [wall], "wall": wall, "fresh_s": fresh_s, "compress_s": compress_s, "resume_s": resume_s,
                "resumed_days": resumed.get("tier_1m", 0)}

    def _check_tiers(self, ctx, raw_dirs, tiers, when):
        for t in ("1m", "1h", "1d"):
            n = tier_mismatches(raw_dirs, tiers, t)
            ctx.checks.expect(f"rollup: tier {t} equals DuckDB over raw {when}",
                              n == 0, f"{n} differing rows")

    def _check_lineage(self, ctx, tiers, metrics):
        """verify_lineage over every committed partition, fresh and resumed."""
        from tits_spark.lineage import verify_lineage

        rows = verify_lineage(ctx.spark, str(tiers), str(metrics)).collect()
        bad = [r for r in rows if r["match"] is not True]
        ctx.checks.expect("lineage: every partition verifies after the resume",
                          bool(rows) and not bad, f"{len(bad)} of {len(rows)} unmatched")

    def named(self, ctx, results):
        from harness import median

        meta = ctx.inputs.meta
        turns = meta["turns"]
        return {
            "rollup_turns_per_s": (turns / median([r["fresh_s"] for r in results]), "turns/s"),
            "compress_turns_per_s": (turns / median([r["compress_s"] for r in results]), "turns/s"),
            "resume_s": (median([r["resume_s"] for r in results]), "s"),
            "block_bytes_per_turn": (ctx.state["block_bytes"] / turns, "count"),
        }

    def trace_pass(self, ctx):
        from tits_spark.compression.gorilla import decompress_partitions
        from tits_spark.operators.rollup import rollup_cascade, rollup_from_raw, write_tier

        spark, tr, inp = ctx.spark, ctx.tracer, ctx.inputs
        with tr.span("op.rollup_ingest"):
            res = self.op(ctx, 1)
        # the bare cascade on the same input, without lineage or TableIO
        bare = ctx.work / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        with tr.span("rollup.tier.1m"):
            write_tier(rollup_from_raw(spark.read.parquet(str(inp.raw))), str(bare), "1m")
        for finer, tier in (("1m", "1h"), ("1h", "1d")):
            with tr.span(f"rollup.tier.{tier}"):
                prev = spark.read.parquet(f"{bare}/tier={finer}").drop("bucket_date")
                write_tier(rollup_cascade(prev, tier), str(bare), tier)
        with tr.span("gorilla.decompress_partitions"):
            blocks = spark.read.parquet(str(ctx.work / "ingest" / "blocks"))
            decompress_partitions(blocks).write.format("noop").mode("overwrite").save()
        return {"block_bytes": ctx.state["block_bytes"],
                "append_bytes": inp.meta["append_bytes"],
                "resume_days_ratio": res["resumed_days"] / inp.meta["append_days"]}


# ------------------------------------------------------------------ lead_lag

ACF_NLAGS, ACF_TAU, ACF_MIN_POINTS = 5, 60.0, 16


class LeadLag(Workload):
    """guess_lag best-lag rows over planted-lag quotes, then the
    autocorrelation of every conversation's gap series."""

    name = "lead_lag"
    needs = ("raw", "gaps", "quotes")

    def prepare(self, ctx):
        g = pd.read_parquet(ctx.inputs.gaps)
        g["t"] = g["ts"].to_numpy().astype("datetime64[ns]").astype(np.int64) / 1e9
        g = g.sort_values(["key", "t"], kind="stable")
        series = {k: (d["t"].to_numpy(), d["value"].to_numpy(np.float64))
                  for k, d in g.groupby("key", sort=True)}
        ctx.state["series"] = series
        ctx.state["acf_series"] = sum(len(t) >= ACF_MIN_POINTS for t, _ in series.values())
        # the warm-up runs guess_lag on the first tenth of the quotes
        ctx.state["warm_until"] = duckdb.sql(
            f"select min(ts) + (max(ts) - min(ts)) / 10 "
            f"from read_parquet('{parquet_glob(ctx.inputs.quotes)}')").fetchone()[0]

    def load(self, ctx):
        ctx.spark.read.parquet(str(ctx.inputs.quotes)).count()
        ctx.spark.read.parquet(str(ctx.inputs.gaps)).count()

    def warm(self, ctx):
        from pyspark.sql import functions as F
        from tits_spark.operators.correlate import sacf_by_key_batched
        from tits_spark.operators.guess_lag import guess_lag

        quotes = ctx.spark.read.parquet(str(ctx.inputs.quotes))
        guess_lag(quotes.where(F.col("ts") < F.lit(ctx.state["warm_until"])), best=True).collect()
        g = ctx.spark.read.parquet(str(ctx.inputs.gaps)).where(F.col("key") < "conv00000050")
        sacf_by_key_batched(g, nlags=ACF_NLAGS, tau=ACF_TAU, min_points=ACF_MIN_POINTS).collect()

    def op(self, ctx, i):
        from tits_spark.operators.correlate import sacf_by_key_batched
        from tits_spark.operators.guess_lag import guess_lag

        spark, tr, inp = ctx.spark, ctx.tracer, ctx.inputs

        def lead_lag():
            with tr.span("guess_lag.guess_lag"):
                return guess_lag(spark.read.parquet(str(inp.quotes)), best=True).collect()

        def acf():
            with tr.span("correlate.sacf_by_key_batched"):
                g = spark.read.parquet(str(inp.gaps))
                return sacf_by_key_batched(
                    g, nlags=ACF_NLAGS, tau=ACF_TAU, min_points=ACF_MIN_POINTS
                ).toPandas()

        rows, ll_s = _timed(lead_lag)
        self._check_lags(ctx, rows)
        out, acf_s = _timed(acf)
        n_series = out["key"].nunique()
        ctx.checks.expect("acf: one row per lag for every series with min_points",
                          n_series == ctx.state["acf_series"]
                          and len(out) == n_series * ACF_NLAGS,
                          f"{n_series} series, {len(out)} rows")
        if i == 0:
            self._check_acf(ctx, out)
        wall = ll_s + acf_s
        return {"samples": [wall], "wall": wall, "lead_lag_s": ll_s, "acf_s": acf_s, "series": n_series,
                "pairs": len(rows)}

    def _check_lags(self, ctx, rows):
        lag_s = {"LEAD": 0.0, **{k: v / 1000.0 for k, v in SIZES["lag_ms"].items()}}
        venues = len(lag_s)
        wrong = [
            (r["side"], r["key1"], r["key2"], r["best_lag"]) for r in rows
            if r["best_lag"] is None or r["best_lag"] != r["best_lag"]
            or abs(r["best_lag"] - (lag_s[r["key2"]] - lag_s[r["key1"]])) > 1e-9
        ]
        ctx.checks.expect("guess_lag: every planted offset recovered with its sign",
                          len(rows) == 2 * venues * (venues - 1) and not wrong,
                          f"{len(rows)} rows, wrong: {wrong}")

    def _check_acf(self, ctx, out):
        from tits_spark.functions import kernels as K

        series = ctx.state["series"]
        eligible = sorted(k for k, (t, _) in series.items() if len(t) >= ACF_MIN_POINTS)
        rng = np.random.default_rng(ctx.seed)
        sample = rng.choice(eligible, size=min(16, len(eligible)), replace=False)
        got = {k: d.sort_values("lag")["acf"].to_numpy()
               for k, d in out[out["key"].isin(sample)].groupby("key")}
        bad = []
        for k in sample:
            t, v = series[k]
            want = K.sacf(t - t[0], v, ACF_NLAGS, ACF_TAU, stats="fast")
            if k not in got or not np.array_equal(got[k], want, equal_nan=True):
                bad.append(k)
        ctx.checks.expect("acf: rows equal kernels.sacf on sampled series",
                          not bad, f"differ: {bad}")

    def named(self, ctx, results):
        from harness import median

        return {
            "lead_lag_s": (median([r["lead_lag_s"] for r in results]), "s"),
            "acf_series_per_s": (results[0]["series"] / median([r["acf_s"] for r in results]),
                                 "series/s"),
        }

    def trace_pass(self, ctx):
        from tits_spark.functions import kernels as K
        from tits_spark.operators.guess_lag import (
            EDG_TICKS, LOW_TICKS, MAX_TICKS, NLAGS, TAU, melt_books,
        )
        from tits_spark.operators.windows import sliding_last_n

        spark, tr, inp = ctx.spark, ctx.tracer, ctx.inputs
        with tr.span("op.lead_lag"):
            res = self.op(ctx, 1)
        with tr.span("guess_lag.books"):
            q = spark.read.parquet(str(inp.quotes))
            sliding_last_n(melt_books(q), ["side", "venue"], "ts", MAX_TICKS) \
                .write.format("noop").mode("overwrite").save()

        # the kernels on the same arrays, outside Spark
        quotes = pd.read_parquet(inp.quotes)
        quotes["t"] = quotes["ts"].to_numpy().astype("datetime64[us]").astype(np.int64) / 1e6
        books = {}
        for side, col in (("BID", "bid"), ("ASK", "ask")):
            for venue, d in quotes[quotes[col].notna()].groupby("venue"):
                d = d.sort_values("t", kind="stable").iloc[-MAX_TICKS:]
                books[(side, venue)] = (d["t"].to_numpy(), d[col].to_numpy(np.float64))
        pairs = [(a, b) for a in books for b in books
                 if a[0] == b[0] and a[1] != b[1]
                 and len(books[a][0]) >= EDG_TICKS and len(books[b][0]) >= LOW_TICKS]
        t0 = time.perf_counter()
        for a, b in pairs:
            t1, p1 = books[a][0][-EDG_TICKS:], books[a][1][-EDG_TICKS:]
            t2, p2 = books[b]
            K.xcor(t1[1:] - t1[0], np.diff(p1), t2[1:] - t1[0], np.diff(p2), NLAGS, TAU)
        xcor_s = time.perf_counter() - t0
        series = [s for s in ctx.state["series"].values() if len(s[0]) >= ACF_MIN_POINTS]
        t0 = time.perf_counter()
        for t, v in series:
            K.sacf(t - t[0], v, ACF_NLAGS, ACF_TAU, stats="fast")
        sacf_s = time.perf_counter() - t0
        total = len(ctx.state["series"])
        return {
            "xcor_ms_per_pair": 1000.0 * xcor_s / max(1, len(pairs)),
            "sacf_us_per_series": 1e6 * sacf_s / max(1, len(series)),
            "pairs": res["pairs"],
            "acf_series": res["series"],
            "acf_skipped_ratio": (total - res["series"]) / total,
        }


# ---------------------------------------------------------------- tier_reads

QUERIES = 64
#: points a dashboard asks for; read_resolution picks the tier from it
POINTS = 100
#: the query mix, repeated: two LOCF and two interpolation reads per replay
KINDS = ("locf", "interp", "replay", "locf", "interp")


class TierReads(Workload):
    """Small range reads over tiers and blocks written once in set-up:
    read_resolution then LOCF or interpolation, or one day of blocks
    replayed through decompress_partitions, collected to the driver."""

    name = "tier_reads"
    needs = ("raw", "stored")

    def prepare(self, ctx):
        """The seeded query sequence; keys are drawn from those present
        in each query's range, so a query is never empty."""
        inp = ctx.inputs
        rng = np.random.default_rng(ctx.seed)
        h = f"read_parquet('{inp.tiers}/tier=1h/*/*.parquet', hive_partitioning = true)"
        days = [r[0] for r in duckdb.sql(
            f"select distinct bucket_ts::date from {h} order by 1").fetchall()]
        queries = []
        for i in range(QUERIES):
            kind = KINDS[i % len(KINDS)]
            if kind == "replay":
                queries.append(("replay", days[int(rng.integers(1, len(days) - 1))], None, None))
                continue
            if kind == "locf":   # 4 hours at 100 points -> the 1m tier
                d = days[int(rng.integers(1, len(days) - 1))]
                start = dt.datetime.combine(d, dt.time(int(rng.integers(0, 20))))
                end = start + dt.timedelta(hours=4)
            else:                # 120 hours at 100 points -> the 1h tier
                first = dt.datetime.combine(days[0], dt.time())
                start = first + dt.timedelta(hours=int(rng.integers(0, 24 * len(days) - 120)))
                end = start + dt.timedelta(hours=120)
            keys = [r[0] for r in duckdb.sql(
                f"select distinct key from {h} where bucket_ts >= '{start}' "
                f"and bucket_ts < '{end}' order by 1").fetchall()]
            pick = sorted(rng.choice(keys, size=min(8, len(keys)), replace=False).tolist())
            queries.append((kind, start, end, pick))
        ctx.state["queries"] = queries

    def load(self, ctx):
        ctx.spark.read.parquet(f"{ctx.inputs.tiers}/tier=1h").count()

    def warm(self, ctx):
        # one query of each kind, so the loop's first of a kind is not cold
        for kind in ("locf", "interp", "replay"):
            self._run(ctx, next(q for q in ctx.state["queries"] if q[0] == kind))

    def _run(self, ctx, q):
        from pyspark.sql import functions as F
        from tits_spark.compression.gorilla import decompress_partitions
        from tits_spark.operators.gapfill import gapfill_interp, gapfill_locf
        from tits_spark.operators.rollup import choose_tier, read_resolution

        spark, tr, inp = ctx.spark, ctx.tracer, ctx.inputs
        kind, start, end, keys = q
        if kind == "replay":
            with tr.span("gorilla.decode_day"):
                blocks = spark.read.parquet(str(inp.blocks)).where(F.col("day") == F.lit(start))
                return decompress_partitions(blocks).collect()
        with tr.span("rollup.read_resolution"):
            tier = choose_tier(start, end, POINTS)
            df = read_resolution(spark, str(inp.tiers), start, end, target_points=POINTS)
            df = df.where(F.col("key").isin(keys))
        with tr.span(f"gapfill.{kind}") as sp:
            fill = gapfill_locf if kind == "locf" else gapfill_interp
            rows = fill(df, tier).collect()
            sp.attrs["rows"] = len(rows)
            sp.attrs["filled"] = sum(1 for r in rows if r["filled"])
        return rows

    def _check(self, ctx, q, rows):
        kind, start, end, keys = q
        if kind == "replay":
            got = [(r["key"], r["ts"], r["value"]) for r in rows]
            ok = rows_equal(got, raw_day(ctx.inputs.raw, start))
        else:
            from tits_spark.operators.rollup import choose_tier

            tier = choose_tier(start, end, POINTS)
            want = gapfill_oracle(ctx.inputs.tiers, tier, start, end, keys, kind)
            got = [(r["key"], r["bucket_ts"], r["v_last"], r["filled"]) for r in rows]
            ok = bool(got) and rows_equal(got, want, rel=1e-12 if kind == "interp" else 0.0)
        ctx.checks.expect(f"tier_reads: {kind} query equals DuckDB over the same slice", ok,
                          f"{kind} {start} {end} {keys}")

    def op(self, ctx, i):
        q = ctx.state["queries"][i % QUERIES]
        rows, wall = _timed(lambda: self._run(ctx, q))
        self._check(ctx, q, rows)
        return {"samples": [wall], "wall": wall}

    def named(self, ctx, results):
        from harness import median, tail

        lat = [1000.0 * r["wall"] for r in results]
        v, pct, n = tail(lat)
        return {
            "read_p50_ms": (median(lat), "ms"),
            "read_tail_ms": (v, "ms", f"p{pct:.0f} of {n}"),
        }

    def trace_pass(self, ctx):
        first = len(ctx.tracer.spans)
        for i in range(8):
            with ctx.tracer.span("op.tier_reads"):
                self.op(ctx, i)
        return {"gapfill": [(s.wall, s.attrs["rows"], s.attrs["filled"])
                            for s in ctx.tracer.spans[first:]
                            if s.name.startswith("gapfill.")]}


# -------------------------------------------------------------- stream_books

BOOK_MAX, BOOK_EDG = 1024, 3 * 1024 // 4 + 1


class StreamBooks(Workload):
    """book_triggers over a stream of tick files, one file per
    micro-batch (maxFilesPerTrigger=1, availableNow)."""

    name = "stream_books"
    needs = ("ticks",)

    def prepare(self, ctx):
        files = sorted(ctx.inputs.ticks.glob("*.parquet"))
        ctx.state["expected"] = book_replay(files, BOOK_MAX, BOOK_EDG)
        warm = ctx.work / "warm_ticks"
        shutil.rmtree(warm, ignore_errors=True)
        warm.mkdir(parents=True)
        shutil.copy2(files[0], warm / files[0].name)
        ctx.state["passes"] = 0

    def load(self, ctx):
        ctx.spark.read.parquet(str(ctx.inputs.ticks)).count()

    def warm(self, ctx):
        self._pass(ctx, ctx.work / "warm_ticks")

    def _pass(self, ctx, src: pathlib.Path):
        from tits_spark.streaming.book_state import book_triggers

        spark = ctx.spark
        n = ctx.state["passes"] = ctx.state["passes"] + 1
        name, ck = f"books_{n}", ctx.work / f"ck_{n}"
        stream = (spark.readStream.schema("key string, t double, v double")
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        with ctx.tracer.span("streaming.book_triggers") as sp:
            t0 = time.perf_counter()
            q = (book_triggers(stream, max_ticks=BOOK_MAX, edg_ticks=BOOK_EDG)
                 .writeStream.format("memory").queryName(name).outputMode("append")
                 .option("checkpointLocation", str(ck)).trigger(availableNow=True).start())
            ctx.tracer.alias(str(q.runId), sp)
            finished = q.awaitTermination(120)
            wall = time.perf_counter() - t0
        if not finished:
            q.stop()
        err = q.exception()
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        out = spark.sql(f"select * from {name}").collect()
        spark.catalog.dropTempView(name)
        shutil.rmtree(ck, ignore_errors=True)
        if not finished or err is not None:
            raise RuntimeError(f"stream did not finish: {err}")
        return out, progress, wall

    def op(self, ctx, i):
        out, progress, wall = self._pass(ctx, ctx.inputs.ticks)
        files = SIZES["stream_files"]
        got = [tuple(r) for r in out]
        ctx.checks.expect("stream_books: one micro-batch per file",
                          len(progress) == files, f"{len(progress)} batches")
        ctx.checks.expect("stream_books: triggers equal a pandas replay",
                          rows_equal(got, ctx.state["expected"]),
                          f"{len(got)} vs {len(ctx.state['expected'])} rows")
        lat = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        return {"samples": lat, "wall": wall,
                "rows": sum(p["numInputRows"] for p in progress), "progress": progress}

    def named(self, ctx, results):
        from harness import median, tail

        lat = [1000.0 * s for r in results for s in r["samples"]]
        v, pct, n = tail(lat)
        return {
            "stream_batch_p50_ms": (median(lat), "ms"),
            "stream_batch_tail_ms": (v, "ms", f"p{pct:.0f} of {n}"),
            "stream_rows_per_s": (sum(r["rows"] for r in results)
                                  / sum(r["wall"] for r in results), "rows/s"),
        }

    def trace_pass(self, ctx):
        with ctx.tracer.span("op.stream_books"):
            res = self.op(ctx, 0)
        return {"progress": res["progress"]}


WORKLOADS = {w.name: w for w in (RollupIngest(), LeadLag(), TierReads(), StreamBooks())}

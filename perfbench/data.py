"""Seeded inputs, generated once per (seed, size) and cached under the
benchmark's own directory.

Every input comes from the engine's own generators
(``tits_spark.datagen``) or from numpy with the run's seed; the
engine only ever sees the written files. Each part is built into a
temporary directory and renamed, so a cut run leaves no half input.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import pathlib
import shutil

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: input sizes; the cache key hashes this table, so changing a size
#: regenerates instead of reusing stale inputs
SIZES = {
    # Pareto-skewed conversations (generate_transcripts), turn count
    # capped, kept to their first days: ingest cost is per day partition;
    # then cut to a fixed number of turns, so that every seed gives the
    # same volume (a few long conversations would otherwise move it 30%)
    "convs": 4000,
    "max_turns": 300,
    "days": 7,
    "turns": 15000,
    # appended batch: conversations generated after the base's last day,
    # kept to the first few days so the resume is a small cascade
    "append_convs": 1200,
    "append_days": 3,
    "append_turns": 1000,
    # planted-lag quotes: one leader, two followers (ms behind it)
    "ticks": 6000,
    "lag_ms": {"FOLA": 30, "FOLB": 70},
    # tick files streamed one per micro-batch
    "stream_files": 8,
    "stream_rows": 5000,
    "stream_keys": 10,
}

SIZE_TAG = hashlib.sha1(json.dumps(SIZES, sort_keys=True).encode()).hexdigest()[:8]


def parquet_glob(path: pathlib.Path) -> str:
    return str(path / "*.parquet")


def first_turns(df, n: int):
    """The first ``n`` turns in (conv_id, ts) order: whole conversations
    but the last one."""
    from pyspark.sql import Window, functions as F

    rn = F.row_number().over(Window.orderBy("conv_id", "ts"))
    return df.withColumn("_rn", rn).where(F.col("_rn") <= n).drop("_rn")


def _expect_turns(got: int, want: int) -> None:
    if got != want:
        raise RuntimeError(f"generated {got} turns, not {want}")


class Inputs:
    """Paths of one seed's inputs; ``meta`` holds their sizes."""

    def __init__(self, cache_root: pathlib.Path, seed: int):
        self.seed = seed
        self.dir = cache_root / f"{SIZE_TAG}-s{seed}"
        self.raw = self.dir / "raw"          # (conv_id, ts, value)
        self.append = self.dir / "append"    # same schema, later days
        self.gaps = self.dir / "gaps"        # (key, ts, value=gap seconds)
        self.quotes = self.dir / "quotes"    # (ts, venue, bid, ask)
        self.ticks = self.dir / "ticks"      # stream files (key, t, v)
        self.stored = self.dir / "stored"    # tiers + blocks written once
        self.tiers = self.stored / "tiers"
        self.blocks = self.stored / "blocks"

    @property
    def meta(self) -> dict:
        f = self.dir / "meta.json"
        return json.loads(f.read_text()) if f.exists() else {}

    def _set_meta(self, **kv) -> None:
        m = self.meta
        m.update(kv)
        (self.dir / "meta.json").write_text(json.dumps(m, indent=1, default=str))

    def ensure(self, spark, parts) -> None:
        self.dir.mkdir(parents=True, exist_ok=True)
        order = ["raw", "append", "gaps", "quotes", "ticks", "stored"]
        for part in order:
            if part in parts and not (self.dir / f"{part}.done").exists():
                getattr(self, f"_build_{part}")(spark)
                (self.dir / f"{part}.done").touch()

    # --------------------------------------------------------- input parts

    def _into(self, final: pathlib.Path, write) -> None:
        tmp = final.with_name(final.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(final, ignore_errors=True)
        write(tmp)
        os.replace(tmp, final)

    def _build_raw(self, spark) -> None:
        from pyspark.sql import functions as F
        from tits_spark.datagen import generate_transcripts

        end = dt.datetime(2026, 1, 1) + dt.timedelta(days=SIZES["days"])
        df = (
            generate_transcripts(spark, n_convs=SIZES["convs"], seed=self.seed,
                                 max_turns=SIZES["max_turns"], epoch="2026-01-01")
            .where(F.col("ts") < F.lit(end))
            .select("conv_id", "ts", F.length("text").cast("double").alias("value"))
        )
        # as many files as the generator writes
        df = first_turns(df, SIZES["turns"]).repartition(
            max(spark.sparkContext.defaultParallelism, 8), "conv_id")
        self._into(self.raw, lambda p: df.write.parquet(str(p)))
        turns, days, last = duckdb.sql(
            f"select count(*), count(distinct ts::date), max(ts)::date "
            f"from read_parquet('{parquet_glob(self.raw)}')").fetchone()
        _expect_turns(turns, SIZES["turns"])
        self._set_meta(turns=turns, base_days=days, last_day=str(last))

    def _build_append(self, spark) -> None:
        from pyspark.sql import functions as F
        from tits_spark.datagen import generate_transcripts

        epoch = dt.date.fromisoformat(self.meta["last_day"]) + dt.timedelta(days=1)
        end = epoch + dt.timedelta(days=SIZES["append_days"])
        df = (
            generate_transcripts(
                spark, n_convs=SIZES["append_convs"], seed=self.seed + 7919,
                max_turns=SIZES["max_turns"], epoch=epoch.isoformat(),
            )
            .where(F.col("ts") < F.lit(dt.datetime.combine(end, dt.time())))
            .select("conv_id", "ts", F.length("text").cast("double").alias("value"))
        )
        df = first_turns(df, SIZES["append_turns"])
        self._into(self.append, lambda p: df.coalesce(2).write.parquet(str(p)))
        turns, days = duckdb.sql(
            f"select count(*), count(distinct ts::date) "
            f"from read_parquet('{parquet_glob(self.append)}')").fetchone()
        _expect_turns(turns, SIZES["append_turns"])
        size = sum(f.stat().st_size for f in self.append.glob("*.parquet"))
        self._set_meta(append_turns=turns, append_days=days, append_bytes=size)

    def _build_gaps(self, spark) -> None:
        from pyspark.sql import Window, functions as F
        from tits_spark.functions.exprs import ts_seconds

        raw = spark.read.parquet(str(self.raw))
        t = ts_seconds("ts")
        w = Window.partitionBy("conv_id").orderBy("ts")
        df = (
            raw.withColumn("value", t - F.lag(t).over(w))
            .where(F.col("value").isNotNull())
            .select(F.col("conv_id").alias("key"), "ts", "value")
        )
        self._into(self.gaps, lambda p: df.write.parquet(str(p)))
        (points,) = duckdb.sql(
            f"select count(*) from read_parquet('{parquet_glob(self.gaps)}')").fetchone()
        self._set_meta(gap_points=points)

    def _build_quotes(self, spark) -> None:
        from tits_spark.datagen import generate_quotes

        df = generate_quotes(spark, n_ticks=SIZES["ticks"], seed=self.seed,
                             lag_ms=dict(SIZES["lag_ms"]))
        self._into(self.quotes, lambda p: df.write.parquet(str(p)))
        (n,) = duckdb.sql(
            f"select count(*) from read_parquet('{parquet_glob(self.quotes)}')"
        ).fetchone()
        self._set_meta(quote_rows=n)

    def _build_ticks(self, spark) -> None:
        rng = np.random.default_rng(self.seed)
        files, rows, keys = (SIZES["stream_files"], SIZES["stream_rows"],
                             SIZES["stream_keys"])

        def write(tmp: pathlib.Path) -> None:
            tmp.mkdir(parents=True)
            # the file source orders files by modification time: stamp
            # them one second apart so batch order is the file order
            stamp = 1_700_000_000
            for i in range(files):
                pdf = pd.DataFrame({
                    "key": np.char.add("k", rng.integers(0, keys, rows).astype(str)),
                    "t": i * 1000.0 + np.sort(rng.random(rows)) * 1000.0,
                    "v": np.round(rng.normal(size=rows), 6),
                })
                f = tmp / f"part-{i:04d}.parquet"
                pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), f)
                os.utime(f, (stamp + i, stamp + i))

        self._into(self.ticks, write)

    def _build_stored(self, spark) -> None:
        """Tiers and Gorilla blocks for the read workload, written once
        through the same storage layer (TableIO) the ingest path uses."""
        from pyspark.sql import functions as F
        from tits_spark.compression.gorilla import compress_partitions
        from tits_spark.operators.rollup import rollup_all_tiers
        from tits_spark.sources.table_io import resolve_table_io

        def write(tmp: pathlib.Path) -> None:
            raw = spark.read.parquet(str(self.raw))
            io = resolve_table_io(spark, str(tmp / "tiers"), str(tmp / "metrics"))
            for tier, df in rollup_all_tiers(raw).items():
                io.write_tier(df, tier)
            blocks = compress_partitions(
                raw.select(F.col("conv_id").alias("key"), "ts", "value"))
            blocks.write.partitionBy("day").parquet(str(tmp / "blocks"))

        self._into(self.stored, write)

"""Dump .explain("formatted") for named queries to text files.

Usage:
  python tools/dump_plans.py --repo /root/repo --out plans/r06 --suffix after q_chow q_theta ...

Query names: any key of __spark_entry__.queries(), plus the bench-only
pseudo-queries q4_sacf / q5_guess_lag / q6_minhash / q7_ngram /
q11_clusters / q1_rollup_1m (built exactly as bench.py builds them).

Driver-side only (no jobs run); safe to run alongside other work.
"""

from __future__ import annotations

import argparse
import io
import os
import pathlib
import sys
from contextlib import redirect_stdout


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default="/root/repo")
    ap.add_argument("--out", default="plans/r06")
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    from pyspark.sql import Window, functions as F

    import __spark_entry__ as E
    from tits_spark.session import get_spark

    spark = get_spark("dump-plans", cores=4, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = pathlib.Path(args.out)
    out_dir.mkdir(parents=True, exist_ok=True)

    # bench-only inputs (mirrors bench.py)
    from bench import ensure_transcripts

    def bench_frames():
        tpath = ensure_transcripts(spark)
        transcripts = spark.read.parquet(tpath)
        docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
        return transcripts, docs

    def _q4():
        transcripts, _ = bench_frames()
        from tits_spark.operators.correlate import sacf_by_key_batched

        t_sec = F.col("ts").cast("timestamp").cast("double")
        wo = Window.partitionBy("conv_id").orderBy("ts")
        gaps = (
            transcripts.select("conv_id", "ts")
            .withColumn("value", t_sec - F.lag(t_sec).over(wo))
            .filter(F.col("value").isNotNull())
            .select(F.col("conv_id").alias("key"), "ts", "value")
        )
        return sacf_by_key_batched(gaps, nlags=5, tau=60.0, min_points=16)

    def _q5():
        from tits_spark.datagen import generate_quotes
        from tits_spark.operators.guess_lag import guess_lag

        quotes = generate_quotes(spark, n_ticks=30_000, seed=42).cache()
        return guess_lag(quotes, best=True, nlags=64, tau=0.01)

    def _q6():
        _, docs = bench_frames()
        from tits_spark.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(docs.cache(), num_hashes=8, bands=4, shingle_n=8)

    def _q7():
        _, docs = bench_frames()
        from tits_spark.operators.dedup import ngram_jaccard_pairs

        return ngram_jaccard_pairs(docs.cache(), n=8, threshold=0.12, max_doc_freq=50)

    def _q11():
        _, docs = bench_frames()
        from tits_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs

        return dedup_clusters(
            minhash_lsh_pairs(docs.cache(), num_hashes=8, bands=4, shingle_n=8)
        )

    def _q1():
        transcripts, _ = bench_frames()
        from tits_spark.operators.rollup import rollup_from_raw

        raw = transcripts.select(
            "conv_id", "ts", F.length("text").cast("double").alias("value")
        )
        return rollup_from_raw(raw, "conv_id", "ts", "value", "1m")

    pseudo = {
        "q4_sacf": _q4,
        "q5_guess_lag": _q5,
        "q6_minhash": _q6,
        "q7_ngram": _q7,
        "q11_clusters": _q11,
        "q1_rollup_1m": _q1,
    }

    qs = E.queries()
    for name in args.names:
        if name in pseudo:
            df = pseudo[name]()
        elif name in qs:
            df = qs[name](spark, args.sf_dir)
        else:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = out_dir / f"{name}_{args.suffix}.txt"
        path.write_text(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()

"""The guess_lag pipeline: pairwise lead/lag estimation between keyed
quote streams (ref:guess_lag.c:238-331, SURVEY.md §3.1).

Batch re-expression of the reference's streaming CLI:

  quotes(ts, venue, bid, ask)
    -> melt to per-(venue, side) books, absent sides never enter a book
    -> bounded book: newest MAX_TICKS rows per book (W1)
    -> eligibility: triggers have >= EDG_TICKS rows (use newest
       EDG_TICKS), partners >= LOW_TICKS (P5)
    -> all ordered pairs (trigger, partner), same side, i != j (J1)
    -> per pair: rebase t to trigger's first ts, first-difference the
       prices (W2/W3), kernel XCF at NLAGS lags on the tau grid (Q2)
    -> best-lag argmax with NaN propagation (T1), or full correlogram

Deviation from the reference, documented: the reference replays the
whole loop after *every* input line and fires a trigger exactly when a
book hits EDG_TICKS rows; a batch job sees one snapshot, so each
eligible book fires once on its newest EDG_TICKS rows. The planted-lag
fixture asserts the recovered offsets, not stream replay order.

Scale shape: the books are built once — one window shuffle on (side,
venue), then one aggregate row per book holding its rows sorted by
(t, px), keyed like the window so it adds no shuffle. A self-join on
side turns the books into pair rows (venues^2 of them, each carrying
both books), and the pairs are independent, so a round-robin
repartition spreads them evenly over the tasks of one mapInPandas.
Per-book state is bounded by MAX_TICKS, so task memory is O(1)
regardless of input size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tits_spark.functions import kernels as K
from tits_spark.functions.exprs import ts_seconds
from tits_spark.operators.windows import sliding_last_n

MAX_TICKS = 4096                     # ref:guess_lag.c:81
EDG_TICKS = 3 * MAX_TICKS // 4 + 1   # ref:guess_lag.c:242
LOW_TICKS = 2 * MAX_TICKS // 4 + 1   # ref:guess_lag.c:243
NLAGS = 256                          # ref:guess_lag.c:241
TAU = 0.01                           # ref:guess_lag.c:251

_FULL_SCHEMA = "side string, key1 string, key2 string, lag_time double, xcf double"
_BEST_SCHEMA = "side string, key1 string, key2 string, best_lag double, best_xcf double"


def melt_books(quotes: DataFrame) -> DataFrame:
    """(ts, venue, bid, ask) -> (side, venue, ts, px); a NULL side simply
    produces no row (the reference never appends absent fields)."""
    bid = quotes.filter(F.col("bid").isNotNull()).select(
        F.lit("BID").alias("side"), "venue", "ts", F.col("bid").alias("px")
    )
    ask = quotes.filter(F.col("ask").isNotNull()).select(
        F.lit("ASK").alias("side"), "venue", "ts", F.col("ask").alias("px")
    )
    return bid.unionByName(ask)


def best_lag(xcf: np.ndarray, nlags: int, tau: float) -> tuple[float, float]:
    """(best_lag, best_xcf) of one correlogram by the reference argmax:
    the first maximal element wins, NaNs elsewhere are skipped, and a NaN
    at the first lag makes the result NaN (ref:guess_lag.c:286-304)."""
    if np.isnan(xcf[0]):
        return float("nan"), float("nan")
    k = int(np.nanargmax(xcf))
    return (k - nlags) * tau, float(xcf[k])


def guess_lag(
    quotes: DataFrame,
    best: bool = True,
    max_ticks: int = MAX_TICKS,
    edg_ticks: int | None = None,
    low_ticks: int | None = None,
    nlags: int = NLAGS,
    tau: float = TAU,
) -> DataFrame:
    """Pairwise lead/lag over a quotes table.

    Returns (side, key1, key2, best_lag, best_xcf) when ``best`` else the
    full correlogram rows (side, key1, key2, lag_time, xcf).
    """
    if edg_ticks is None:
        edg_ticks = 3 * max_ticks // 4 + 1
    if low_ticks is None:
        low_ticks = 2 * max_ticks // 4 + 1

    books = (
        sliding_last_n(melt_books(quotes), ["side", "venue"], "ts", max_ticks)
        .groupBy("side", "venue")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_sort(F.collect_list(F.struct(ts_seconds("ts").alias("t"), "px"))).alias("rows"),
        )
    )
    # trigger fires on its newest edg_ticks rows (ref fires at n == EDG)
    trig = books.filter(F.col("n") >= edg_ticks).select(
        "side", F.col("venue").alias("key1"),
        F.slice("rows", -edg_ticks, edg_ticks).alias("rows1"),
    )
    part = books.filter(F.col("n") >= low_ticks).select(
        "side", F.col("venue").alias("key2"), F.col("rows").alias("rows2")
    )
    pairs = trig.join(part, "side").filter(F.col("key1") != F.col("key2")).select(
        "side", "key1", "key2",
        F.col("rows1.t").alias("t1"), F.col("rows1.px").alias("p1"),
        F.col("rows2.t").alias("t2"), F.col("rows2.px").alias("p2"),
    )
    lag_time = np.arange(-nlags, nlags + 1) * tau

    def run_pairs(batches):
        for b in batches:
            out = []
            for side, key1, key2, t1, p1, t2, p2 in zip(
                b["side"], b["key1"], b["key2"], b["t1"], b["p1"], b["t2"], b["p2"]
            ):
                # rebase t to the trigger's first ts; first-difference the
                # prices and drop the first element of each book (clean
                # form of ref:guess_lag.c:228-236's synthetic zero slot)
                tref = t1[0]
                xcf = K.xcor(t1[1:] - tref, np.diff(p1), t2[1:] - tref, np.diff(p2), nlags, tau)
                if best:
                    lag, x = best_lag(xcf, nlags, tau)
                    out.append(pd.DataFrame({
                        "side": [side], "key1": [key1], "key2": [key2],
                        "best_lag": [lag], "best_xcf": [x],
                    }))
                else:
                    out.append(pd.DataFrame({
                        "side": side, "key1": key1, "key2": key2,
                        "lag_time": lag_time, "xcf": xcf,
                    }))
            if out:
                yield pd.concat(out, ignore_index=True)

    # numbered round-robin repartition: the XCF stage is the most
    # CPU-per-byte stage in the engine (nlags x n kernel per pair), and
    # each pair row carries both of its books, so pairs are independent
    # rows. A numbered repartition is exempt from AQE's advisory-size
    # coalescing (which would serialize the pairs onto one task), and
    # round-robin spreads them evenly where hashing (side, key1, key2)
    # leaves some tasks with more pairs than others (tests/test_plans.py).
    nparts = quotes.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(nparts).mapInPandas(
        run_pairs, schema=_BEST_SCHEMA if best else _FULL_SCHEMA
    )

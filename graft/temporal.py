"""Temporal snapshot analytics over time-sliced link graphs.

The windowed edge derivation (graft.io.transcripts_to_edges_windowed)
produces one link graph per time bucket; these operators compare those
snapshots: a per-edge diff between two graphs and a per-window-pair
drift summary across a whole snapshot series. At 10^12-turn scale the
snapshot table is partitioned by ``win``, so both operators read only
the windows they touch (partition pruning) and never collect data to
the driver.

No reference analog (the reference engine is single-graph, static);
these extend the capability envelope the same way the windowed /
decayed derivations do — the operations a live transcript deployment
runs daily (what changed since yesterday's graph? how fast is the
actor universe drifting?).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graft.io import time_bucket


def edge_diff(
    e_old: DataFrame,
    e_new: DataFrame,
    include_unchanged: bool = True,
) -> DataFrame:
    """Per-edge diff between two edge tables sharing the canonical
    ``(u, v, weight)`` shape: returns
    ``(u, v, w_old, w_new, delta, status)`` with status one of
    ``added`` / ``removed`` / ``changed`` / ``unchanged``.

    Plan: ONE full-outer shuffle join on the edge key — both sides are
    already keyed aggregates, AQE handles size imbalance between the
    snapshots; no driver-side data movement. With
    ``include_unchanged=False`` the unchanged rows (usually the vast
    majority between adjacent snapshots) are filtered before the
    result leaves the join stage.
    """
    o = e_old.select("u", "v", F.col("weight").alias("w_old"))
    n = e_new.select("u", "v", F.col("weight").alias("w_new"))
    j = o.join(n, ["u", "v"], "full_outer")
    delta = F.coalesce("w_new", F.lit(0.0)) - F.coalesce("w_old", F.lit(0.0))
    status = (
        F.when(F.col("w_old").isNull(), F.lit("added"))
        .when(F.col("w_new").isNull(), F.lit("removed"))
        .when(F.col("w_old") != F.col("w_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        "u",
        "v",
        "w_old",
        "w_new",
        delta.alias("delta"),
        status.alias("status"),
    )
    if not include_unchanged:
        out = out.where(F.col("status") != "unchanged")
    return out


def snapshot_drift(
    snapshots: DataFrame,
    win_col: str = "win",
) -> DataFrame:
    """Drift summary between every pair of CONSECUTIVE windows in a
    snapshot series ``(win, u, v, weight)``: one row
    ``(win, next_win, n_prev, n_cur, n_common, n_added, n_removed,
    jaccard, weight_delta)`` per adjacent window pair, where jaccard is
    the edge-set Jaccard similarity and weight_delta is the total
    absolute weight change over the union of both edge sets (rounded
    to 6 dp, like the engine's other derived floats).

    Plan: the window list is one row per bucket (days/hours — tiny), so
    the (win → next_win) pairing is a lead() over a one-column distinct
    and rides into both sides as a BROADCAST join; the drift itself is
    one full-outer shuffle join keyed on (win, next_win, u, v) followed
    by one groupBy on the window pair. Each snapshot row is touched at
    most twice (as the prev of one pair and the cur of the next) — no
    quadratic window-pair blowup, no collect.
    """
    w = Window.orderBy(win_col)
    wins = (
        snapshots.select(win_col)
        .distinct()
        .withColumn("next_win", F.lead(win_col).over(w))
        .where(F.col("next_win").isNotNull())
    )
    prev = snapshots.withColumnRenamed("weight", "w_prev").join(
        F.broadcast(wins), win_col
    )
    cur = (
        snapshots.select(
            F.col(win_col).alias("next_win"),
            "u",
            "v",
            F.col("weight").alias("w_cur"),
        )
        .join(F.broadcast(wins), "next_win")
    )
    j = prev.join(cur, [win_col, "next_win", "u", "v"], "full_outer")
    common = F.count(F.when(
        F.col("w_prev").isNotNull() & F.col("w_cur").isNotNull(), 1
    ))
    n_prev = F.count("w_prev")
    n_cur = F.count("w_cur")
    return (
        j.groupBy(win_col, "next_win")
        .agg(
            n_prev.alias("n_prev"),
            n_cur.alias("n_cur"),
            common.alias("n_common"),
            F.count(F.when(F.col("w_prev").isNull(), 1)).alias("n_added"),
            F.count(F.when(F.col("w_cur").isNull(), 1)).alias("n_removed"),
            F.round(
                common
                / (n_prev + n_cur - common),
                6,
            ).alias("jaccard"),
            F.round(
                F.sum(
                    F.abs(
                        F.coalesce("w_cur", F.lit(0.0))
                        - F.coalesce("w_prev", F.lit(0.0))
                    )
                ),
                6,
            ).alias("weight_delta"),
        )
    )


def rate_anomalies(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    granularity: str = "day",
    trailing: int = 7,
    min_periods: int = 3,
) -> DataFrame:
    """Per-(key, time-bucket) activity-count anomaly score: the z-score
    of each bucket's event count against its own trailing baseline —
    the standard operational drift/burst detector over an ingest stream
    ("did role:error spike today?").

    Returns ``(key, win string, n long, base_mean, base_std, z)`` —
    ``win`` uses the engine's bucket convention
    (:func:`graft.io.time_bucket`, lexicographic == chronological);
    ``base_mean``/``base_std`` are the mean / sample-stddev of the
    trailing ``trailing`` OBSERVED buckets (empty buckets don't emit
    rows and don't enter the baseline — document-able semantics that
    every engine replays identically); ``z`` is NULL while the baseline
    has fewer than ``min_periods`` buckets or zero variance. All floats
    6 dp.

    Plan shape: ONE hash agg over the event stream (map-side
    combinable) down to (key × bucket) rows, then windows over that
    tiny table partitioned BY KEY — nothing event-sized ever sorts, so
    the operator holds at 10^12 events with bounded (keys × buckets)
    state.
    """
    counts = events.groupBy(
        F.col(key_col).alias("key"),
        time_bucket(granularity, ts_col).alias("win"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("key")
        .orderBy("win")
        .rowsBetween(-trailing, -1)
    )
    m = F.avg("n").over(w)
    s = F.stddev_samp("n").over(w)
    k = F.count("n").over(w)
    z = F.when(
        (k >= min_periods) & s.isNotNull() & (s > 0),
        (F.col("n") - m) / s,
    )
    return counts.select(
        "key",
        "win",
        "n",
        F.round(m, 6).alias("base_mean"),
        F.round(s, 6).alias("base_std"),
        F.round(z, 6).alias("z"),
    )

"""Time-series regularization (engine addition in the mo_times spirit
(u, mo-times time-domain partitioning): the reference partitions time
into unit domains; a training-data pipeline additionally needs gap-
FILLED per-key series — metrics backfill, feature snapshots, "state as
of hour H" joins).

Scale design: the grid is generated per key from that key's own
[min, max] span (``sequence`` + ``explode`` — narrow fan-out, no
driver loop, no global span blowup for short-lived keys), the
observation aggregate is map-side combined, and the forward fill is
ONE window pass ordered by grid time.  Everything shuffles on the key
exactly twice (agg, window) with AQE coalescing in between.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mo_etl_spark.operators.grouped import grouped_pandas


def resample_ffill(
    df: DataFrame,
    key: str,
    ts_col: str,
    value: Column,
    tiebreak: Column,
    step: str = "1 hour",
) -> DataFrame:
    """Regularize an event stream to a fixed-step grid per key with
    forward fill.

    Per key: buckets = date_trunc(step unit) of ts; per-bucket LAST
    observed ``value`` (greatest ``tiebreak`` wins — pass a total order
    so the fill is deterministic) and event count; then a dense grid
    over the key's own [min, max] bucket span, missing buckets filled
    from the last earlier observation (count 0).

    Returns (key, bucket_ts, n_events, filled value).
    """
    unit = step.split()[-1].rstrip("s")
    bucket = F.date_trunc(unit, F.col(ts_col))
    obs = (
        df.select(F.col(key), bucket.alias("bucket"), value.alias("v"), tiebreak.alias("tb"))
        .groupBy(key, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max_by("v", "tb").alias("last_v"),
        )
    )
    span = obs.groupBy(key).agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    grid = span.select(
        key,
        F.explode(F.sequence("lo", "hi", F.expr(f"INTERVAL {step}"))).alias("bucket"),
    )
    w = (
        Window.partitionBy(key)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, [key, "bucket"], "left")
        .select(
            key,
            "bucket",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("last_v", ignorenulls=True).over(w).alias("filled_v"),
        )
    )


def ewma_halving(
    df: DataFrame,
    key: str,
    ts: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Exponentially-weighted moving average with alpha = 1/2:
    ``s_t = (x_t + s_{t-1}) / 2`` per key in (ts, id) order.

    The state feedback makes this NON-window-expressible (each row
    needs the previous row's *output*), the same class as
    sessionize_capped: an O(n) walk per key via ``grouped_pandas`` — one
    key shuffle, Arrow both ways, Python touches each row once.

    Cross-engine float parity by construction: inputs are integers,
    and the recurrence is evaluated in the literal ``(x + s) / 2``
    double form — one rounding point per step, then an exact halving —
    so a DuckDB recursive CTE computing the same expression in the
    same order produces bit-identical doubles (pandas' own
    ``ewm(adjust=False)`` is NOT used: it evaluates
    ``0.5*x + 0.5*s``, which rounds at a different point).
    """
    import pandas as pd

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, id_col]).reset_index(drop=True)
        xs = pdf[value_col].to_numpy(dtype="float64")
        out = xs.copy()
        for i in range(1, len(out)):
            out[i] = (xs[i] + out[i - 1]) / 2.0
        pdf["ewma"] = out
        return pdf[[key, id_col, "ewma"]]

    return grouped_pandas(
        df.select(key, ts, id_col, value_col), key, walk,
        f"{key} long, {id_col} long, ewma double",
    )


def holt_halving(
    df: DataFrame,
    key: str,
    ts: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Holt double exponential smoothing (level + trend) with
    alpha = beta = 1/2, per key in (ts, id) order:

        l_t = (x_t + (l_{t-1} + b_{t-1})) / 2
        b_t = ((l_t - l_{t-1}) + b_{t-1}) / 2      (l_0 = x_0, b_0 = 0)

    The trend state makes the one-step-ahead forecast l + b — the
    capacity-planning smoother that plain EWMA (ewma_halving) can't
    provide because it damps any slope.  Same execution class:
    coupled state feedback is non-window-expressible, so it runs as an
    O(n) ``grouped_pandas`` walk per key (ONE key shuffle).

    Cross-engine float parity by construction (same discipline as
    ewma_halving): integer inputs, and each step evaluates the literal
    parenthesized double expressions above in that exact order — one
    rounding point per operator — so a DuckDB recursive CTE replaying
    them is bit-identical.
    """
    import pandas as pd

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, id_col]).reset_index(drop=True)
        xs = pdf[value_col].to_numpy(dtype="float64")
        level = xs.copy()
        trend = xs * 0.0
        for i in range(1, len(xs)):
            prev_l, prev_b = level[i - 1], trend[i - 1]
            level[i] = (xs[i] + (prev_l + prev_b)) / 2.0
            trend[i] = ((level[i] - prev_l) + prev_b) / 2.0
        pdf["level"] = level
        pdf["trend"] = trend
        pdf["forecast"] = level + trend
        return pdf[[key, id_col, "level", "trend", "forecast"]]

    return grouped_pandas(
        df.select(key, ts, id_col, value_col), key, walk,
        f"{key} long, {id_col} long, level double, trend double, forecast double",
    )


def capped_running_balance(
    df: DataFrame,
    key: str,
    ts: str,
    delta_col: str,
    id_col: str,
    cap: int,
) -> DataFrame:
    """Running balance with saturation: per key in (ts, id) order,
    ``bal_t = clamp(bal_{t-1} + delta_t, 0, cap)`` starting from 0 —
    the inventory / token-bucket / leaky-rate-limiter recurrence.
    Saturation is state FEEDBACK (the clamp result feeds the next
    step), so no window frame expresses it; same ``grouped_pandas`` O(n)
    walk per key as ewma_halving, ONE key shuffle.  Pure int64 — no
    float parity question at all.  Also emits how much each step lost
    to the clamp (overflow spill / starved demand)."""
    import pandas as pd

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, id_col]).reset_index(drop=True)
        ds = pdf[delta_col].to_numpy(dtype="int64")
        bal = 0
        bals = ds.copy()
        clipped = ds.copy()
        for i, d in enumerate(ds):
            raw = bal + int(d)
            bal = min(max(raw, 0), cap)
            bals[i] = bal
            clipped[i] = raw - bal
        pdf["balance"] = bals
        pdf["clipped"] = clipped
        return pdf[[key, id_col, "balance", "clipped"]]

    return grouped_pandas(
        df.select(key, ts, id_col, delta_col), key, walk,
        f"{key} long, {id_col} long, balance long, clipped long",
    )


def sessionize_two_phase(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_ms: int = 1_800_000,
    bucket_ms: int = 3_600_000,
) -> DataFrame:
    """Skew-safe gap sessionization for BATCH (VERDICT r1 item #8).

    The plain window form (win_sessionize) puts each key's entire
    history in ONE ordered partition — a 2M-row hot user at 100 TB is
    a single-task straggler that salting can't fix (windows need the
    whole key).  This variant pre-splits every key by a coarse time
    bucket, sessionizes each (key, bucket) slice locally, then
    stitches sessions across bucket boundaries on the tiny per-bucket
    summary table:

    1. local: window over (key, floor(epoch_ms/bucket_ms)) — the hot
       key's rows spread over ~span/bucket_ms parallel partitions;
    2. summary: per (key, bucket) first/last event time and local
       session count — O(keys x active buckets) rows;
    3. stitch: one window over the summary per key (ordered by
       bucket): a bucket's first session merges with the previous
       non-empty bucket's last iff the boundary gap <= gap_ms; the
       bucket's global offset = cumulative local sessions minus
       cumulative merges;
    4. join offsets back on (key, bucket) — co-partitioned with the
       local stage, and broadcast-size in practice.

    EXACT for any bucket_ms: in-bucket consecutive pairs are handled
    locally, cross-bucket consecutive pairs exactly once at the
    boundary (empty buckets between two events don't matter — the
    summary lag skips them).  Output: (id_col, key, session_idx),
    identical to the window form (stress-verified at 20M rows with a
    2M-row hot key).
    """
    ems = (F.unix_micros(F.col(ts_col)) / 1000).cast("long")
    ev = df.select(
        F.col(id_col), F.col(key), F.col(ts_col), ems.alias("__ems"),
        F.floor(ems / F.lit(bucket_ms)).alias("__bkt"),
    )
    wloc = Window.partitionBy(key, "__bkt").orderBy(ts_col, id_col)
    gap = F.col("__ems") - F.lag("__ems").over(wloc)
    local_new = F.when(gap > gap_ms, 1).otherwise(0)
    ev = ev.withColumn(
        "__lidx",
        F.sum(local_new).over(
            wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    summary = ev.groupBy(key, "__bkt").agg(
        F.min("__ems").alias("__first"),
        F.max("__ems").alias("__last"),
        (F.max("__lidx") + 1).alias("__n_local"),
    )
    wsum = Window.partitionBy(key).orderBy("__bkt")
    merged = F.when(
        F.col("__first") - F.lag("__last").over(wsum) <= gap_ms, 1
    ).otherwise(0)
    offsets = summary.withColumn(
        "__offset",
        F.coalesce(
            F.sum("__n_local").over(
                wsum.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        - F.sum(merged).over(
            wsum.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).select(key, "__bkt", "__offset")
    return ev.join(offsets, [key, "__bkt"]).select(
        id_col,
        key,
        (F.col("__offset") + F.col("__lidx")).alias("session_idx"),
    )


def sessionize_skew(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_ms: int = 1_800_000,
    bucket_ms: int = 3_600_000,
    hot_threshold: int = 1_000_000,
    hot_frac: float = 0.25,
) -> DataFrame:
    """Hot-key-routed gap sessionization — the production skew answer.

    ``sessionize_two_phase`` is exact for every key but pays a
    summary-table and stitch-join proportional to distinct
    (key, bucket) — wasteful when most keys are small (a sparse key's
    summary is nearly one row per event).  So ROUTE instead: one
    map-side-combined count finds keys that BOTH exceed
    ``hot_threshold`` rows AND own more than ``hot_frac`` of the whole
    input (measured at 100M rows: a 10%-share key is still faster
    through the plain window — 59 s vs 94 s routed — while a 90%-share
    key routes 2.9x faster; share is what predicts the straggler, not
    absolute size).  The hot set is broadcast-tiny by definition.
    Cold keys take the plain single-window form (their partitions are
    small, no straggler); hot keys take the two-phase split where the
    per-bucket summary is genuinely tiny (rows/bucket_span per key).
    Outputs are identical to the window form on every row
    (tests/test_routed_operators.py; stress-verified at 20-100M rows).
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
    total = counts.agg(F.sum("__n").alias("__total"))
    hot = F.broadcast(
        counts.crossJoin(F.broadcast(total))
        .where(
            (F.col("__n") >= hot_threshold)
            & (F.col("__n").cast("double") >= F.lit(hot_frac) * F.col("__total").cast("double"))
        )
        .select(key)
    )
    cold = df.join(hot, key, "left_anti")
    hotdf = df.join(hot, key, "left_semi")

    worder = Window.partitionBy(key).orderBy(ts_col, id_col)
    ems = (F.unix_micros(F.col(ts_col)) / 1000).cast("long")
    gap = ems - F.lag(ems).over(worder)
    cold_sessions = cold.select(
        id_col,
        key,
        F.sum(F.when(gap > gap_ms, 1).otherwise(0))
        .over(worder.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_idx"),
    )
    hot_sessions = sessionize_two_phase(
        hotdf, key=key, ts_col=ts_col, id_col=id_col,
        gap_ms=gap_ms, bucket_ms=bucket_ms,
    )
    return cold_sessions.unionByName(hot_sessions)


def resample_linterp(
    df: DataFrame,
    key: str,
    ts_col: str,
    value: Column,
    tiebreak: Column,
    step: str = "1 hour",
) -> DataFrame:
    """Regularize an event stream to a fixed-step grid per key with
    LINEAR interpolation between the surrounding observations — the
    gap-fill for continuous signals (sensor values, prices) where
    ``resample_ffill``'s step function is wrong.

    Same grid construction as resample_ffill (per-key span,
    sequence+explode — narrow fan-out); then ONE shuffle on the key
    and two frame passes over the same sort order: last non-null
    observation at-or-before each grid point and first at-or-after.
    Gap points get ``pv + (nv - pv) * (t - pt) / (nt - pt)`` evaluated
    in exactly that double-op order — all operands derive from
    integers (cents, epoch ms), so a SQL oracle computing the same
    expression is bit-identical.  Observed points reduce to the
    observation (nt == pt guard); the tail after the last observation
    forward-fills (nv IS NULL guard).

    Returns (key, bucket_ts, n_events, interp_v DOUBLE).
    """
    unit = step.split()[-1].rstrip("s")
    bucket = F.date_trunc(unit, F.col(ts_col))
    obs = (
        df.select(F.col(key), bucket.alias("bucket"), value.alias("v"), tiebreak.alias("tb"))
        .groupBy(key, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max_by("v", "tb").alias("last_v"),
        )
    )
    span = obs.groupBy(key).agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    grid = span.select(
        key,
        F.explode(F.sequence("lo", "hi", F.expr(f"INTERVAL {step}"))).alias("bucket"),
    )
    g = grid.join(obs, [key, "bucket"], "left")
    # both carries are RUNNING frames (unboundedPreceding..current):
    # Spark's unboundedFollowing frame re-evaluates per row (O(n^2)
    # per partition — measured 54 s at sf0.1); the descending-order
    # running frame computes the same "next observation" in O(n)
    wprev = (
        Window.partitionBy(key)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wnext = (
        Window.partitionBy(key)
        .orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = (F.unix_micros(F.col("bucket")) / 1000).cast("long")
    obs_t = F.when(F.col("last_v").isNotNull(), t)
    pv = F.last("last_v", ignorenulls=True).over(wprev).cast("double")
    pt = F.last(obs_t, ignorenulls=True).over(wprev).cast("double")
    nv = F.last("last_v", ignorenulls=True).over(wnext).cast("double")
    nt = F.last(obs_t, ignorenulls=True).over(wnext).cast("double")
    td = t.cast("double")
    interp = (
        F.when(nv.isNull(), pv)
        .when(nt == pt, pv)
        .otherwise(pv + (nv - pv) * (td - pt) / (nt - pt))
    )
    return g.select(
        key,
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.round(interp, 6).alias("interp_v"),
    )

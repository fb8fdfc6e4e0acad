"""Temporal joins Spark lacks as built-ins: as-of join and range
(interval) join — expressed as compositions of existing DataFrame ops,
never a cross join or a Python loop.

Scale design:

- ``asof_join``: the classic union-and-window formulation. Tag left and
  right rows, union them, and take ``last(right_value, ignorenulls)``
  over a window partitioned by key and ordered by time. One shuffle on
  the key — the same cost as a sort-merge join — with state bounded by
  one right-row struct per window frame. No per-left-row probe, no
  broadcast requirement on either side.
- ``interval_join``: equi-join on coarse time buckets + exact residual
  predicate. Exploding each left interval into the hour buckets it
  covers turns the inequality join into an equi-join Catalyst can
  shuffle-hash: cost O(rows · buckets-per-interval) instead of the
  O(|L|·|R|) nested-loop Spark plans for a raw range predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_BUCKET_SECONDS = {"1 hour": 3600, "1 day": 86400, "1 minute": 60}
#: Hours in the seasonal cycle of the hourly decomposition.
PERIOD = 24


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    allow_exact: bool = True,
    direction: str = "backward",
    tolerance_us: int | None = None,
) -> DataFrame:
    """As-of join (pandas ``merge_asof`` semantics, distributed).

    ``direction="backward"`` (default): for each left row, the latest
    right row with ``right_ts <= left_ts`` (strictly ``<`` when
    ``allow_exact=False``) per key. ``direction="forward"``: the
    earliest right row with ``right_ts >= left_ts`` (strictly ``>``
    when ``allow_exact=False``). ``direction="nearest"``: whichever
    one-sided match has the smaller absolute gap, ties to backward. ``tolerance_us`` bounds the match gap
    (``|right_ts - left_ts|`` in microseconds for timestamp columns,
    raw units for numeric ts columns); out-of-tolerance matches come
    back NULL, exactly like pandas. Unmatched left rows keep NULL value
    columns (left join). Matched right columns return prefixed
    ``asof_``.

    Scale: still the one-shuffle union-and-window formulation — forward
    direction just flips the window sort to descending, so per-key state
    stays one right-row struct regardless of direction or tolerance.
    Timestamp ties among right rows resolve deterministically to the
    max ``__rval`` struct (backward) / min (forward).
    """
    if direction == "nearest":
        # nearest = the closer of the two one-sided matches, ties to the
        # backward side (pandas merge_asof semantics). Two one-shuffle
        # passes; tolerance applies per side before the comparison.
        # The passes recombine on a synthetic unique row id, NOT the
        # left columns: joining on left columns is null-unsafe (a left
        # row with any NULL column silently vanishes) and fans out
        # quadratically on duplicate left rows. The tagged frame is
        # localCheckpoint'ed (materialized) before branching: both
        # passes are separate plan executions, and Spark does NOT
        # guarantee monotonically_increasing_id reproduces across
        # re-evaluations (AQE coalescing, task retries, nondeterministic
        # upstream such as sample/round-robin repartition) — without the
        # checkpoint, diverging ids would silently drop or mispair rows
        # at the recombining inner join.
        idc = "__asof_nid"
        tagged = left.withColumn(
            idc, F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
        bwd = asof_join(
            tagged, right, on, left_ts, right_ts, value_cols,
            allow_exact, "backward", tolerance_us,
        )
        value_cols_n = value_cols or [
            c for c in right.columns if c not in (on, right_ts)
        ]
        out_cols = [right_ts] + [c for c in value_cols_n if c != right_ts]
        fwd = asof_join(
            tagged, right, on, left_ts, right_ts, value_cols,
            allow_exact, "forward", tolerance_us,
        ).select(
            F.col(idc),
            *[F.col(f"asof_{c}").alias(f"__f_{c}") for c in out_cols],
        )
        ts_type = left.schema[left_ts].dataType
        joined = bwd.join(fwd, idc)
        bgap = _ts_gap_us(F.col(left_ts), F.col(f"asof_{right_ts}"), ts_type)
        fgap = _ts_gap_us(F.col(f"__f_{right_ts}"), F.col(left_ts), ts_type)
        take_fwd = F.col(f"asof_{right_ts}").isNull() | (
            F.col(f"__f_{right_ts}").isNotNull() & (fgap < bgap)
        )
        return joined.select(
            *left.columns,
            *[
                F.when(take_fwd, F.col(f"__f_{c}"))
                .otherwise(F.col(f"asof_{c}"))
                .alias(f"asof_{c}")
                for c in out_cols
            ],
        )
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    value_cols = value_cols or [c for c in right.columns if c not in (on, right_ts)]
    out_cols = [right_ts] + [c for c in value_cols if c != right_ts]

    rval = F.struct(*[F.col(c).alias(c) for c in out_cols])
    r2 = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(0 if allow_exact else 1).alias("__side"),
        rval.alias("__rval"),
        F.lit(None).cast(_struct_of(left)).alias("__lrow"),
    )
    l2 = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(1 if allow_exact else 0).alias("__side"),
        F.lit(None).cast(r2.schema["__rval"].dataType).alias("__rval"),
        F.struct(*left.columns).alias("__lrow"),
    )
    # side ordering decides same-instant visibility: in the traversal
    # order the right row must come first iff allow_exact. __rval as a
    # final key makes the surviving right row deterministic under ties.
    if direction == "backward":
        order = [F.col("__ts").asc(), F.col("__side").asc(), F.col("__rval").asc()]
    else:
        order = [F.col("__ts").desc(), F.col("__side").asc(), F.col("__rval").desc()]
    w = (
        Window.partitionBy("__key")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        r2.unionByName(l2)
        .withColumn("__match", F.last("__rval", ignorenulls=True).over(w))
        .filter(F.col("__lrow").isNotNull())
    )
    if tolerance_us is not None:
        gap = _ts_gap_us(
            F.col(f"__match.{right_ts}"), F.col("__ts"), matched.schema["__ts"].dataType
        )
        if direction == "backward":
            gap = -gap
        matched = matched.withColumn(
            "__match",
            F.when(gap <= F.lit(tolerance_us), F.col("__match")),
        )
    return matched.select(
        "__lrow.*",
        *[F.col(f"__match.{c}").alias(f"asof_{c}") for c in out_cols],
    )


def _ts_gap_us(right_ts_col, left_ts_col, ts_type):
    """(right - left) in microseconds for timestamp columns, raw units
    for numeric time axes — so tolerance works on either."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    if isinstance(ts_type, (TimestampType, TimestampNTZType)):
        return F.unix_micros(right_ts_col) - F.unix_micros(left_ts_col)
    return right_ts_col - left_ts_col


def _struct_of(df: DataFrame):
    from pyspark.sql.types import StructType

    return StructType([df.schema[c] for c in df.columns])


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_start: str,
    left_end: str,
) -> DataFrame:
    """Range join: pairs (left, right) with ``left_start < right.ts <=
    left_end`` and equal keys, via bucketed equi-join + exact residual
    filter. Returns the left rows joined to each matching right row
    (right columns prefixed ``r_``).
    """
    step = _BUCKET_SECONDS["1 hour"]
    lb = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.unix_timestamp(left_start) / step).cast("long"),
                (F.unix_timestamp(left_end) / step).cast("long"),
            )
        ),
    )
    rb = right.select(
        F.col(on).alias("__rkey"),
        (F.unix_timestamp("ts") / step).cast("long").alias("__bucket"),
        F.struct(*right.columns).alias("__rrow"),
    )
    joined = lb.join(
        rb,
        (F.col(on) == F.col("__rkey")) & (lb["__bucket"] == rb["__bucket"]),
    ).filter(
        (F.col("__rrow.ts") > F.col(left_start))
        & (F.col("__rrow.ts") <= F.col(left_end))
    )
    return joined.select(
        *left.columns,
        *[F.col(f"__rrow.{c}").alias(f"r_{c}") for c in right.columns],
    )


def seasonal_decompose(series: DataFrame) -> DataFrame:
    """Classical additive seasonal decomposition of an hourly series with
    a daily period (``PERIOD`` = 24; the moving-average method of
    Macaulay 1931, the `decompose()` of every stats stack): trend by
    centered moving average, seasonal indices as the per-phase mean of
    the detrended series, remainder as what's left.

    Exactness contract (what lets the whole decomposition value-oracle
    cross-engine): the trend numerator stays INTEGER. The period is
    even, so the classical 2×m MA weights the two window ends by ½ —
    scaled by 2·period the numerator is ``2·Σwindow − (first+last)``,
    pure int64. The per-phase seasonal mean likewise averages the
    INTEGER quantity ``scale·y − trend_numerator``, so no float is ever
    summed in either engine — each output value is produced by one or
    two IEEE divisions/subtractions of identical operands, which every
    engine rounds identically.

    The input must be a gap-free series per key group (compose with the
    q46 gap-fill operator upstream when it isn't); rows without the
    full centered window (the first/last ``period//2``) are dropped, as
    in every classical implementation.

    Scale: one window pass ordered by time over a single unkeyed
    series, a series-length frame — the corpus was already reduced by
    the upstream aggregation, declared.
    The 2·period-row seasonal-index frame broadcasts back.
    """
    base, seas, scale = _decompose_base(series)
    trend = F.col("__tnum").cast("double") / F.lit(float(scale))
    seasonal = F.col("__snum").cast("double") / (
        F.lit(float(scale)) * F.col("__sn").cast("double")
    )
    return (
        base.join(F.broadcast(seas), "phase")
        .select(
            "h",
            "y",
            trend.alias("trend"),
            seasonal.alias("seasonal"),
            ((F.col("y").cast("double") - trend) - seasonal).alias("remainder"),
        )
    )


def _decompose_base(series: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """Shared integer core of the decomposition: per-row scaled trend
    numerator + phase (``base``) and per-phase seasonal numerator sums
    (``seas``), everything int64 — see :func:`seasonal_decompose` for
    the exactness contract."""
    period = PERIOD
    half = period // 2
    scale = 2 * period
    w = Window.orderBy("h").rowsBetween(-half, half)
    wlag = Window.orderBy("h")
    y = F.col("y").cast("long")
    # 2 x (sum of 2·half+1 rows) - ends == classical half-weighted MA,
    # scaled by 2·period
    tnum = (
        F.lit(2) * F.sum(y).over(w)
        - F.lag(y, half).over(wlag)
        - F.lead(y, half).over(wlag)
    )
    full = F.count(F.lit(1)).over(w) == (period + 1)
    # integer div end-to-end (CAST(double AS BIGINT) rounds in DuckDB
    # but truncates in Spark — the house cross-engine trap). The phase
    # assumes HOURLY spacing — see seasonal_anomalies' docstring.
    phase = F.pmod(F.expr("unix_timestamp(h) div 3600"), F.lit(period))
    base = (
        series.select(
            "h",
            y.alias("y"),
            tnum.alias("__tnum"),
            full.alias("__full"),
            phase.alias("phase"),
        )
        .filter(F.col("__full"))
    )
    seas = base.groupBy("phase").agg(
        F.sum(F.lit(scale) * F.col("y") - F.col("__tnum")).alias("__snum"),
        F.count(F.lit(1)).alias("__sn"),
    )
    return base, seas, scale


def seasonal_anomalies(series: DataFrame) -> DataFrame:
    """Anomaly flags on the decomposition remainder, judged against the
    remainder's PER-PHASE spread (3 am behaves like other 3 ams), at
    n_sigma = 2 — and
    the test is an INTEGER comparison, so the flag itself value-oracles
    with no float tolerance anywhere:

    with ``num_t = sn_p·(scale·y − tnum) − snum_p``, algebra gives
    ``remainder_t = num_t / (scale·sn_p)`` exactly, and the per-phase
    sum of ``num`` is IDENTICALLY zero (the seasonal index is the phase
    mean of the detrended series) — which collapses the usual
    ``(n·num − Σnum)² > k²(n·Σnum² − (Σnum)²)`` to

        n_p · num_t² > n_sigma² · Σnum²

    — all int64. The reported ``deviation`` double (= the remainder)
    is a single division of these integers.

    Overflow envelope (ANSI off ⇒ silent wraparound, so respect it):
    the limiting term is ``n_p·num²``, i.e. ``|num| ≲ √(2⁶³/n_p)``
    with ``num ≈ scale·sn_p·residual``. Period 24 over 30 days
    (sn≈29): residuals to ~1.5·10⁵ events/hour; over a year (sn≈365):
    ~8·10³. Beyond that, pre-scale ``y`` down (the flag is
    scale-invariant) or window the series.

    The phase (hours-since-epoch mod period) assumes an HOURLY series;
    any other spacing aliases phases silently (a daily series puts every
    row in one phase).
    """
    n_sigma = 2
    base, seas, scale = _decompose_base(series)
    joined = base.join(F.broadcast(seas), "phase")
    num = F.col("__sn") * (
        F.lit(scale) * F.col("y") - F.col("__tnum")
    ) - F.col("__snum")
    scored = joined.select(
        "h",
        "y",
        "phase",
        num.alias("__num"),
        (F.lit(float(scale)) * F.col("__sn").cast("double")).alias("__d"),
        "__sn",
    )
    stats = scored.groupBy("phase").agg(
        F.sum(F.col("__num") * F.col("__num")).alias("__ss"),
        F.sum("__num").alias("__s1"),
        F.count(F.lit(1)).alias("__n"),
    )
    dev = F.col("__num").cast("double") / F.col("__d")
    # Σnum ≡ 0 per phase (integer identity, see docstring), so the
    # general form collapses — one factor of n_p less on each side
    # widens the overflow envelope
    flag = (
        F.col("__n") * F.col("__num") * F.col("__num")
        > F.lit(n_sigma * n_sigma) * F.col("__ss")
    )
    return (
        scored.join(F.broadcast(stats), "phase")
        .select(
            "h",
            "y",
            "phase",
            dev.alias("deviation"),
            flag.alias("is_anomaly"),
        )
    )

"""Grouped aggregation, multi-dimensional rollups, sessionization.

- ``session_stats`` — the gold-layer aggregation (A1,
  ``Gold/06-gold.py:93-95``): min/avg/max/count per session key.
  Catalyst plans it as partial (map-side) + final hash aggregation, so
  the shuffle carries one row per (key, partition).
- ``rollup_stats`` — the dashboards' "by age × by
  state × by gender" slices (SURVEY §2.4 note) as one pass instead of
  N separate groupBys.
- ``sessionize`` — gaps-and-islands sessionization (lag + cumulative
  sum), the batch analog of ``session_window``; the reference instead
  *declares* sessions via start/stop events (J3), which we also keep.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cache import pin


def session_stats(
    df: DataFrame, keys: Sequence[str], value: str = "heartrate"
) -> DataFrame:
    """min/avg/max/count of ``value`` per key — reference A1
    (``Gold/06-gold.py:93-95``)."""
    return df.groupBy(*keys).agg(
        F.min(value).alias(f"min_{value}"),
        F.avg(value).alias(f"avg_{value}"),
        F.max(value).alias(f"max_{value}"),
        F.count(value).alias("num_recordings"),
    )


def rollup_stats(
    df: DataFrame, dims: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """GROUP BY ROLLUP(dims) — hierarchical subtotals in one shuffle."""
    return df.rollup(*dims).agg(*aggs)


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str,
    gap: str = "interval 30 minutes",
) -> DataFrame:
    """Gap-based sessionization: events closer than ``gap`` within a key
    chain into one session. Two window passes over the same (keys, time)
    partitioning — one shuffle total:

        new_session = ts - lag(ts) > gap          (per key, time order)
        session_no  = running sum of new_session
        → groupBy(keys, session_no): start/end/count

    Emits session_start, session_end (last event time), n_events.
    The streaming analog is ``F.session_window`` (``streaming.pipeline``).
    """
    w = Window.partitionBy(*keys).orderBy(time_col)
    t = F.col(time_col)
    is_new = F.when(
        t > F.lag(t).over(w) + F.expr(gap), F.lit(1)
    ).otherwise(F.lit(0))
    # first row per key: lag is NULL → comparison NULL → otherwise(0);
    # the cumulative sum still starts a session at 0 for it.
    with_session = df.withColumn(
        "__session_no",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_session.groupBy(*keys, "__session_no")
        .agg(
            F.min(time_col).alias("session_start"),
            F.max(time_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumnRenamed("__session_no", "session_no")
    )


def numeric_profile(
    df: DataFrame,
    cols: Sequence[str],
    cents_scale: int = 100,
) -> DataFrame:
    """Deequ-style numeric data profiling: one row per profiled column
    with row/null/distinct counts, min/max, and a fixed-point sum — the
    "is this table sane" gate a corpus pipeline runs before training.

    ONE aggregation pass over the data computes every metric for every
    column simultaneously (Catalyst plans the exact distinct counts via
    a single Expand + two-level hash aggregate — one shuffle total, not
    one scan per column; for cheaper cardinality at extreme scale see
    the ``approx_distinct_agg`` catalog query). The wide 1-row result
    is then unpivoted driver-side-free with ``stack`` — metadata-scale.

    Sums are computed in fixed point: each value is quantized to
    ``floor(v·scale + 0.5)`` (an exact, order-free integer) BEFORE
    summing, so the reported ``sum_cents`` is bit-identical across
    engines and partitionings — a raw double sum would drift in the
    last ulps with aggregation order.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    # internal aliases are INDEX-based and the reported column name is
    # an escaped SQL literal, so a source column named e.g. `avg price`
    # or `it's` profiles fine instead of breaking the stack() parse
    # (ADVICE r4: never splice raw identifiers into generated SQL)
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for i, c in enumerate(cols):
        # backtick-quote: F.col parses bare dots as struct traversal
        v = F.col("`" + c.replace("`", "``") + "`")
        cents = F.floor(v.cast("double") * cents_scale + F.lit(0.5)).cast("long")
        aggs += [
            F.sum(v.isNull().cast("long")).alias(f"__null_{i}"),
            F.countDistinct(v).alias(f"__nd_{i}"),
            F.min(v).alias(f"__min_{i}"),
            F.max(v).alias(f"__max_{i}"),
            F.sum(cents).alias(f"__sum_{i}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        "'{lit}', __null_{i}, __nd_{i}, CAST(__min_{i} AS DOUBLE), "
        "CAST(__max_{i} AS DOUBLE), __sum_{i}".format(
            lit=c.replace("'", "''"), i=i
        )
        for i, c in enumerate(cols)
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n_null, n_distinct, min_v, max_v, sum_cents)",
        "__rows AS n_rows",
    ).select("column", "n_rows", "n_null", "n_distinct", "min_v", "max_v", "sum_cents")


def robust_outlier_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    cents_scale: int = 100,
    k_x10000: int = 44478,
) -> DataFrame:
    """Per-group robust outlier statistics — median, MAD, and outlier
    count under the robust z-score rule |v − median| > k·1.4826·MAD —
    computed EXACTLY with a single shuffle over the data.

    The trick is that every statistic derives from the group's VALUE
    HISTOGRAM (values quantized to ``floor(v·scale + 0.5)`` integer
    cents — exact, order-free): one hash agg produces
    (group, cents, count); the median is a cumulative-count walk over
    that metadata-scale frame; the MAD histogram is the value histogram
    RE-KEYED by |cents − median| (a map-side transform of the
    histogram — no second pass over the data); and the outlier count is
    the sum of histogram counts past the threshold. The only ordered
    windows run over histograms, never the data, and they are
    partitioned by group so no single task sorts everything.

    Medians are lower medians (smallest value with 2·cum ≥ n), the same
    integer rule on both engines. The threshold comparison is the
    integer cross-multiplication ``10000·dev > k_x10000·mad`` (default
    k_x10000 = 3·1.4826·10⁴) — no float rounding to drift. NULL values
    are excluded; NULL groups profile as their own group.
    """
    cents = F.floor(F.col(value_col).cast("double") * cents_scale + F.lit(0.5)).cast(
        "long"
    )
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("__g"), cents.alias("__v"))
        .groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).alias("__n"))
        # The histogram feeds 4+ consumers (totals, median walk, MAD
        # re-key, outlier rollup). Without this persist each consumer's
        # column-pruned subtree canonicalizes differently, Catalyst's
        # exchange reuse misses, and the plan re-scans the DATA once per
        # consumer (measured: 8 parquet scans). The histogram is
        # metadata-scale (|groups x distinct cents|) — caching it is the
        # correct trade at any data size; everything downstream runs
        # over the cache. Tracked: release via cache.release_pinned().
    )
    hist = pin(hist, StorageLevel.MEMORY_AND_DISK)
    wcum = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def nsjoin(left: DataFrame, right: DataFrame) -> DataFrame:
        # null-safe broadcast join on the group key, so a NULL group
        # really does profile as its own group (a plain equi-join would
        # silently drop it — the ADVICE.md NULL-group failure mode)
        r = right.withColumnRenamed("__g", "__g2")
        return left.join(
            F.broadcast(r), F.col("__g").eqNullSafe(F.col("__g2"))
        ).drop("__g2")

    # the group total rides the SAME window partitioning as the
    # cumulative sum (full-frame variant) — no separate totals agg, no
    # extra join per consumer
    wtot = Window.partitionBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        hist.withColumn("__cum", F.sum("__n").over(wcum))
        .withColumn("__total", F.sum("__n").over(wtot))
        .filter(F.col("__cum") * 2 >= F.col("__total"))
        .groupBy("__g")
        .agg(F.min("__v").alias("__med"), F.max("__total").alias("__total"))
    )
    # deviation histogram: re-key the value histogram, no data pass.
    # Pinned like hist: it feeds BOTH the MAD walk and the final
    # outlier rollup, and without the pin the whole subtree (broadcast
    # join + re-key agg) plans and runs twice (the r15 before-plan
    # shows the duplicate subtree; guide §2.4/§5 — metadata-scale, so
    # caching is the correct trade at any data size).
    dev_hist = pin(
        nsjoin(hist, med)
        .withColumn("__dev", F.abs(F.col("__v") - F.col("__med")))
        .groupBy("__g", "__med", "__total", "__dev")
        .agg(F.sum("__n").alias("__n")),
        StorageLevel.MEMORY_AND_DISK,
    )
    wdev = (
        Window.partitionBy("__g")
        .orderBy("__dev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mad = (
        dev_hist.withColumn("__cum", F.sum("__n").over(wdev))
        .filter(F.col("__cum") * 2 >= F.col("__total"))
        .groupBy("__g", "__med")
        .agg(F.min("__dev").alias("__mad"))
    )
    return (
        nsjoin(dev_hist, mad.drop("__med"))
        .groupBy("__g", "__med", "__total", "__mad")
        .agg(
            F.sum(
                F.when(
                    F.col("__dev") * 10_000 > F.lit(k_x10000) * F.col("__mad"),
                    F.col("__n"),
                ).otherwise(F.lit(0))
            ).alias("n_outliers")
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("__total").alias("n"),
            F.col("__med").alias("median_c"),
            F.col("__mad").alias("mad_c"),
            F.col("n_outliers"),
        )
    )


def flag_above_quantile(
    df: DataFrame,
    value_col: str,
    q_bp: int = 9900,
    flag_col: str = "is_outlier",
    threshold_col: str = "threshold",
) -> DataFrame:
    """Exact distributed quantile flagging — the outlier-length gate of
    a corpus pipeline (drop/route docs past the p99 length) WITHOUT
    ``approx_percentile`` (engine-specific estimates) and WITHOUT a
    global sort (single-partition window over the data).

    The q-quantile of a bounded-domain column is computed from its
    VALUE HISTOGRAM: one hash agg to (value, count) — |distinct
    values| rows, metadata-scale for lengths/scores/ratings — then a
    cumulative sum over that tiny frame (the only ordered window, over
    the histogram, never the data), and the threshold is the smallest
    value whose cumulative count reaches ``q_bp`` basis points of the
    total (integer cross-multiplication — no float rounding to drift
    across engines). The threshold broadcasts back; the flag is
    map-side.

    ``q_bp`` is the quantile in basis points (9900 = p99). NULL values
    are excluded from the histogram and flagged false. Rows with
    ``value > threshold`` are flagged — at most ``1 - q_bp/10^4`` of
    the corpus by construction.
    """
    if not 0 < q_bp <= 10_000:
        raise ValueError(f"q_bp must be in (0, 10000], got {q_bp}")
    v = F.col(value_col)
    hist = (
        df.filter(v.isNotNull())
        .groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    w = Window.orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("__cum", F.sum("__n").over(w))
    total = hist.agg(F.sum("__n").alias("__total"))
    threshold = (
        cum.crossJoin(F.broadcast(total))
        .filter(F.col("__cum") * 10_000 >= F.lit(q_bp) * F.col("__total"))
        .agg(F.min(value_col).alias(threshold_col))
    )
    return df.crossJoin(F.broadcast(threshold)).withColumn(
        flag_col, F.coalesce(v > F.col(threshold_col), F.lit(False))
    )


def equi_depth_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    cents_scale: int = 100,
) -> DataFrame:
    """Exact equi-depth (equal-frequency) binning — the histogram a
    cost-based optimizer or feature-bucketizer wants, computed without
    approx_percentile and without a global data sort.

    Same machinery as ``flag_above_quantile``: values quantize to
    integer cents, one hash agg builds the (cents, count) histogram,
    and the ONLY ordered window runs over that metadata-scale frame.
    A value's bin is ``floor(cum_before * n_bins / total)`` (integer
    cross-multiplication; cum_before = cumulative count strictly below
    the value), so bins hold ~total/n_bins rows except where a heavy
    repeated value straddles — it lands wholly in one bin, the exact
    semantics a cost model wants for skew detection. Emits one row per
    non-empty bin: (bin_no, lo_c, hi_c, n_rows).
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    cents = F.floor(F.col(value_col).cast("double") * cents_scale + F.lit(0.5)).cast(
        "long"
    )
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .select(cents.alias("__v"))
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    wcum = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    binned = (
        hist.withColumn("__cum", F.sum("__n").over(wcum))
        .withColumn("__total", F.sum("__n").over(wtot))
        .withColumn(
            "bin_no",
            F.floor(
                (F.col("__cum") - F.col("__n")) * n_bins / F.col("__total")
            ).cast("long"),
        )
    )
    return binned.groupBy("bin_no").agg(
        F.min("__v").alias("lo_c"),
        F.max("__v").alias("hi_c"),
        F.sum("__n").alias("n_rows"),
    )


def grouped_ols(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression (closed-form OLS) as PURE
    AGGREGATION — no applyInPandas needed for a closed-form model: the
    slope is ``(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)``, five sums with
    map-side partials and one shuffle, however many rows each group
    holds.

    ``x_col``/``y_col`` must already be INTEGER features (quantize
    upstream — e.g. days-since-epoch, value cents): integer sums are
    order-free so the emitted exact fraction (slope_num, slope_den) is
    bit-identical across engines and partitionings. A float sum would
    drift in the last ulps with aggregation order. slope_den = 0 (a
    group with a constant x) yields a NULL-slope fraction consumers
    can detect. At extreme n·x·y magnitudes move the two final
    products to decimal(38,0); the sums themselves stay long.

    ``tests/test_operators_unit.py`` keeps an ``applyInPandas`` twin of
    this computation — the grouped-Arrow escape hatch demonstrated on
    a real model fit — and asserts it matches this plan exactly.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    # rows with a NULL feature must not count toward n while the sums
    # skip them (that would silently bias the slope): drop the pair
    df = df.filter(x.isNotNull() & y.isNotNull())
    sums = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
    )
    num = F.col("n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.col("n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    return sums.select(
        group_col,
        "n",
        num.alias("slope_num"),
        den.alias("slope_den"),
    )


def constraint_checks(
    df_by_name: dict[str, DataFrame],
    checks: Sequence[tuple[str, object]],
) -> DataFrame:
    """Deequ-style declarative data-quality suite: each check reduces a
    table to ONE violation count; the suite is the union of those
    1-row aggregates — |checks| rows total, embarrassingly parallel on
    a cluster (each check is a filter+count with map-side partials;
    only the referential check pays a join, because the join IS the
    check).

    ``checks`` entries are ``(name, spec)``; the table is the prefix
    of ``name`` before ``:``. Spec forms:

    - boolean ``Column``            — rows where it is true VIOLATE;
    - ``("unique", [keys])``        — violations = count(*) − count
      of distinct keys (duplicate rows beyond the first per key);
    - ``("fk", child, parent, child_keys, parent_keys)`` — violations
      = child rows whose key has no parent row (left-anti count on
      the zipped key columns).

    Emits (constraint, n_violations, passed).
    """
    out: DataFrame | None = None
    for name, spec in checks:
        table = name.split(":", 1)[0]
        if isinstance(spec, tuple) and spec[0] == "fk":
            _, child, parent, child_keys, parent_keys = spec
            cond = [
                df_by_name[child][ck] == df_by_name[parent][pk]
                for ck, pk in zip(child_keys, parent_keys)
            ]
            bad = df_by_name[child].join(df_by_name[parent], cond, "left_anti")
            row = bad.agg(F.count(F.lit(1)).alias("n_violations"))
        elif isinstance(spec, tuple) and spec[0] == "unique":
            keys = spec[1]
            row = df_by_name[table].agg(
                (F.count(F.lit(1)) - F.countDistinct(*keys)).alias("n_violations")
            )
        else:
            row = df_by_name[table].agg(
                F.sum(F.when(spec, 1).otherwise(0))
                .cast("long")
                .alias("n_violations")
            )
        row = row.select(
            F.lit(name).alias("constraint"),
            F.coalesce(F.col("n_violations"), F.lit(0)).alias("n_violations"),
            (F.coalesce(F.col("n_violations"), F.lit(0)) == 0).alias("passed"),
        )
        out = row if out is None else out.unionByName(row)
    if out is None:
        raise ValueError("checks must be non-empty")
    return out


def psi_trend(
    df: DataFrame,
    value_col: str,
    period_col: str,
    n_bins: int = 10,
    cents_scale: int = 100,
) -> DataFrame:
    """PSI of EVERY period's distribution against the earliest period
    — ``psi_drift`` generalized from one before/after pair to the
    monitoring time series a drift dashboard actually plots (the
    baseline row reports PSI 0 as a built-in sanity check).

    Binning follows the monitoring convention for a fixed reference:
    equi-depth bins come from the BASELINE period's histogram (not
    pooled — the reference window defines the bins once, so adding new
    periods never re-bins history), and values the baseline never saw
    clip into the nearest applicable bin via a lower-bound lookup.
    Laplace +1 smoothing over the FULL bin grid keeps every
    (period, bin) probability finite, including bins empty on one
    side.

    Shape: ONE data shuffle builds the (period, value, count)
    histogram (pinned; release via cache.release_pinned()); the
    baseline histogram, bin bounds, value→bin assignment, the
    period×bin grid and the PSI rollup are all histogram-/
    metadata-scale joins and windows — same contract as
    ``psi_drift``/``equi_depth_bins``.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    cents = F.floor(F.col(value_col).cast("double") * cents_scale + F.lit(0.5)).cast(
        "long"
    )
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(period_col).cast("long").alias("__p"), cents.alias("__v"))
        .groupBy("__p", "__v")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    hist = pin(hist, StorageLevel.MEMORY_AND_DISK)
    base_p = hist.agg(F.min("__p").alias("__bp"))  # 1 row
    bhist = hist.crossJoin(F.broadcast(base_p)).filter(
        F.col("__p") == F.col("__bp")
    )
    wcum = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    binmap = (
        bhist.withColumn("__cum", F.sum("__n").over(wcum))
        .withColumn("__total", F.sum("__n").over(wtot))
        .select(
            "__v",
            F.floor(
                (F.col("__cum") - F.col("__n")) * n_bins / F.col("__total")
            ).cast("long").alias("__bin"),
        )
    )
    bounds = binmap.groupBy("__bin").agg(F.min("__v").alias("__lo"))
    assigned = (
        hist.select("__v")
        .distinct()
        .join(F.broadcast(bounds), F.col("__lo") <= F.col("__v"), "left")
        .groupBy("__v")
        .agg(F.coalesce(F.max("__bin"), F.lit(0)).cast("long").alias("__bin"))
    )
    bc = (
        hist.join(F.broadcast(assigned), "__v")
        .groupBy("__p", "__bin")
        .agg(F.sum("__n").alias("__n"))
    )
    tot = bc.groupBy("__p").agg(F.sum("__n").alias("__t"))
    bins_df = (
        df.sparkSession.range(n_bins).select(F.col("id").alias("__bin"))
    )
    grid = tot.select("__p", "__t").crossJoin(F.broadcast(bins_df))
    cnt = grid.join(bc, ["__p", "__bin"], "left").select(
        "__p", "__bin", F.coalesce(F.col("__n"), F.lit(0)).alias("__n"), "__t"
    )
    base = (
        cnt.crossJoin(F.broadcast(base_p))
        .filter(F.col("__p") == F.col("__bp"))
        .select(
            "__bin",
            F.col("__n").alias("__n0"),
            F.col("__t").alias("__t0"),
        )
    )
    p0 = (F.col("__n0") + 1).cast("double") / (F.col("__t0") + n_bins).cast(
        "double"
    )
    p1 = (F.col("__n") + 1).cast("double") / (F.col("__t") + n_bins).cast(
        "double"
    )
    return (
        cnt.join(F.broadcast(base), "__bin")
        .groupBy(F.col("__p").alias("period"))
        .agg(
            F.lit(n_bins).cast("long").alias("n_bins"),
            F.round(F.sum((p0 - p1) * F.log(p0 / p1)), 6).alias("psi"),
        )
    )


def psi_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    n_bins: int = 10,
    cents_scale: int = 100,
) -> DataFrame:
    """Population Stability Index between two cohorts of a numeric
    feature — the data-drift monitor an ML pipeline runs between a
    reference window and production (rule of thumb: <0.1 stable,
    0.1-0.25 drifting, >0.25 shifted).

    ``group_col`` must hold exactly the values 0 (reference) and 1
    (comparison). Bins are equi-depth deciles of the POOLED
    distribution (the convention that keeps both cohorts comparable);
    probabilities use Laplace +1 smoothing so empty bins never divide
    by zero; PSI = Σ (p0−p1)·ln(p0/p1).

    Shape: ONE data shuffle builds the (value, group, count)
    histogram; the pooled histogram, cumulative bin map, per-bin
    cohort counts and the final PSI all derive from it —
    histogram-scale windows and joins only, same contract as
    ``robust_outlier_stats``/``equi_depth_bins``.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    cents = F.floor(F.col(value_col).cast("double") * cents_scale + F.lit(0.5)).cast(
        "long"
    )
    hist2 = (
        df.filter(F.col(value_col).isNotNull())
        .select(cents.alias("__v"), F.col(group_col).cast("long").alias("__g"))
        .groupBy("__v", "__g")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # feeds the pooled histogram AND the cohort counts; tracked —
    # release via cache.release_pinned()
    hist2 = pin(hist2, StorageLevel.MEMORY_AND_DISK)
    pooled = hist2.groupBy("__v").agg(F.sum("__n").alias("__pn"))
    wcum = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    binmap = (
        pooled.withColumn("__cum", F.sum("__pn").over(wcum))
        .withColumn("__total", F.sum("__pn").over(wtot))
        .select(
            "__v",
            F.floor(
                (F.col("__cum") - F.col("__pn")) * n_bins / F.col("__total")
            ).cast("long").alias("__bin"),
        )
    )
    bc = (
        hist2.join(F.broadcast(binmap), "__v")
        .groupBy("__bin")
        .agg(
            F.sum(F.when(F.col("__g") == 0, F.col("__n")).otherwise(0)).alias("__n0"),
            F.sum(F.when(F.col("__g") == 1, F.col("__n")).otherwise(0)).alias("__n1"),
        )
    )
    tot = hist2.groupBy().agg(
        F.sum(F.when(F.col("__g") == 0, F.col("__n")).otherwise(0)).alias("__t0"),
        F.sum(F.when(F.col("__g") == 1, F.col("__n")).otherwise(0)).alias("__t1"),
    )
    p0 = (F.col("__n0") + 1).cast("double") / (F.col("__t0") + n_bins).cast("double")
    p1 = (F.col("__n1") + 1).cast("double") / (F.col("__t1") + n_bins).cast("double")
    return (
        bc.crossJoin(F.broadcast(tot))
        .agg(
            F.lit(n_bins).cast("long").alias("n_bins"),
            F.round(F.sum((p0 - p1) * F.log(p0 / p1)), 6).alias("psi"),
        )
    )


def seasonal_decompose_additive(
    daily: DataFrame,
    day_col: str = "day",
    value_col: str = "value",
    period: int = 7,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method of Kendall/Stuart, statsmodels' ``seasonal_decompose``
    shape) over a daily integer series, in EXACT integer arithmetic:

    - trend: centered ``period``-wide moving SUM (odd period), so
      ``trend_c = floor(sum/period)`` is the only division;
    - detrended (scaled x period to stay integral):
      ``detrend = period * value - moving_sum`` — exact;
    - seasonal index per day-of-period: ``floor(avg(detrend))`` over
      the days where the full window exists;
    - residual: ``detrend - seasonal`` (same x period scale).

    Edge days (first/last ``period//2``) have no full window: trend,
    detrend, and residual are NULL there and those days don't vote in
    the seasonal index — the statsmodels convention.

    Scale shape: the caller reduces raw events to the daily series
    first (one keyed hash-agg over the fact table — the only
    |events|-scale stage); everything here is windows over the
    |days| frame, which is metadata-sized at any corpus scale (a
    century is ~37k rows). A single unpartitioned sort window over
    |days| is the correct plan, not a hazard.
    """
    if period < 3 or period % 2 == 0:
        raise ValueError(f"period must be odd and >= 3, got {period}")
    half = period // 2
    w = (
        Window.orderBy(F.col(day_col))
        .rowsBetween(-half, half)
    )
    v = F.col(value_col).cast("long")
    with_trend = daily.select(
        F.col(day_col),
        v.alias("value_c"),
        F.when(
            F.count(F.lit(1)).over(w) == period, F.sum(v).over(w)
        ).alias("__msum"),
        ((F.dayofweek(F.col(day_col)) + 5) % period).alias("dop")
        if period == 7
        else (
            F.row_number().over(
                Window.orderBy(F.col(day_col))
            ) % period
        ).alias("dop"),
    )
    det = with_trend.withColumn(
        "detrend",
        F.lit(period) * F.col("value_c") - F.col("__msum"),
    )
    dow_w = Window.partitionBy("dop")
    seasonal = F.floor(
        F.sum("detrend").over(dow_w)
        / F.count("detrend").over(dow_w)
    ).cast("long")
    return det.select(
        day_col,
        "dop",
        "value_c",
        F.floor(F.col("__msum") / period).cast("long").alias("trend_c"),
        F.col("detrend").cast("long").alias("detrend"),
        F.when(F.col("detrend").isNotNull(), seasonal).alias("seasonal"),
        (F.col("detrend") - seasonal).cast("long").alias("residual"),
    )


def chisq_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-cell chi-square independence contributions for a
    contingency table of two categoricals — the drift/dependence
    screen run before trusting a categorical feature split
    ("is event mix independent of day-of-week?"). For each observed
    cell: ``contrib = (O*N - R*C)^2 / (N*R*C)`` — algebraically
    ``N*(O-E)^2 / E / N = (O-E)^2/E`` with every input kept as an
    EXACT int64 (O*N and R*C stay exact; the square and the final
    ratio run in double over those exact ints — one fixed IEEE
    sequence, identical in any engine — and floor at ``scale``).
    Sum contrib/scale over cells for the chi-square statistic; the
    per-cell rows themselves localize WHICH cell drives dependence.

    ONE |facts| hash-agg to the cells frame; totals are windows over
    |cells| (product of cardinalities — metadata-sized for real
    categoricals). Overflow: |diff| = |O*N - R*C| must stay < 2^26.5
    for the double square to stay exact... it doesn't need to: the
    square is a single correctly-rounded op on an exact int input, so
    engines still agree bit-for-bit at ANY magnitude; only the
    INTERPRETATION (exactness of the square) degrades past 2^53."""
    cells = df.groupBy(row_col, col_col).agg(
        F.count(F.lit(1)).alias("o")
    )
    wr = Window.partitionBy(row_col)
    wc = Window.partitionBy(col_col)
    wn = Window.partitionBy()
    with_tot = cells.select(
        row_col,
        col_col,
        "o",
        F.sum("o").over(wr).alias("__r"),
        F.sum("o").over(wc).alias("__c"),
        F.sum("o").over(wn).alias("__n"),
    )
    diff = (F.col("o") * F.col("__n") - F.col("__r") * F.col("__c")).cast(
        "double"
    )
    denom = (F.col("__n") * F.col("__r") * F.col("__c")).cast("double")
    return with_tot.select(
        row_col,
        col_col,
        "o",
        F.col("__r").alias("row_n"),
        F.col("__c").alias("col_n"),
        F.floor(F.lit(float(scale)) * F.col("__r") * F.col("__c")
                / F.col("__n"))
        .cast("long")
        .alias("expected_scaled"),
        F.floor(F.lit(float(scale)) * diff * diff / denom)
        .cast("long")
        .alias("contrib_scaled"),
    )


def cusum_mean_shift(
    daily: DataFrame,
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """Mean-centered CUSUM changepoint localization (Page 1954 /
    the standard offline form): ``C_t = sum_{i<=t}(x_i - mean)``,
    kept EXACT by scaling x ``n`` — ``C_t * n = n * prefix_sum_t -
    t * total`` — all int64, no divisions anywhere. The day where
    |C_t| peaks is the maximum-likelihood single mean-shift point
    (``is_peak``, first such day on ties); the peak MAGNITUDE
    (relative to total) says whether a shift is worth believing.

    Windows over the |days| frame only (the caller reduces the fact
    table to the daily series first — one |facts| hash-agg); a
    century of days is 37k rows, so the unpartitioned cumulative
    window is metadata-scale. Overflow: n * total must fit int64 —
    cents x days to ~10^14 days-cents, far past any real series."""
    wall = Window.orderBy(F.col(day_col)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wcum = Window.orderBy(F.col(day_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    v = F.col(value_col).cast("long")
    t = daily.select(
        F.col(day_col),
        v.alias("value_c"),
        F.count(F.lit(1)).over(wall).alias("__n"),
        F.sum(v).over(wall).alias("__tot"),
        F.sum(v).over(wcum).alias("__pfx"),
        F.row_number().over(Window.orderBy(F.col(day_col))).alias("__t"),
    )
    cusum = F.col("__n") * F.col("__pfx") - F.col("__t") * F.col("__tot")
    with_c = t.select(
        day_col,
        "value_c",
        cusum.alias("cusum_scaled"),
        F.abs(cusum).alias("__a"),
    )
    wmax = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wfirst = Window.orderBy(F.col(day_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    peak = F.max("__a").over(wmax)
    return with_c.select(
        day_col,
        "value_c",
        "cusum_scaled",
        (
            (F.col("__a") == peak)
            & (
                F.sum(
                    F.when(F.col("__a") == peak, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ).over(wfirst)
                == 1
            )
        ).alias("is_peak"),
    )

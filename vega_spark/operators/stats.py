"""Column statistics — correlation, covariance, contingency tables,
heavy hitters, multi-column summaries.

The reference has no statistics layer (its only numeric reductions
are max/min/fold, SURVEY.md §2.2); this is capability superset built
on Spark's built-in aggregates, all single-pass partial+final
(corr/covar are streaming co-moment aggregates — one scan, one tiny
shuffle regardless of table size).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def corr_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlations of ``cols`` in ONE aggregate pass
    (n*(n-1)/2 co-moment aggregates over one scan — not n^2 scans).
    Output: one row per (col_x < col_y) pair."""
    aggs = []
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        aggs.append(F.corr(a, b).alias(f"{a}|{b}"))
    row = df.agg(*aggs).first()
    spark = df.sparkSession
    return spark.createDataFrame(
        [(a, b, float(row[f"{a}|{b}"])) for a, b in pairs],
        "col_x string, col_y string, corr double")


def covariance(df: DataFrame, col_x: str, col_y: str,
               sample: bool = True) -> float:
    agg = F.covar_samp if sample else F.covar_pop
    return df.agg(agg(col_x, col_y)).first()[0]


def crosstab(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Contingency counts as a LONG (tidy) table — one groupBy
    shuffle. Deliberately not Spark's ``df.stat.crosstab`` (which
    pivots every distinct y into a COLUMN — a driver-side-width
    explosion when y has millions of distincts at 100 TB)."""
    return (df.groupBy(col_x, col_y)
            .agg(F.count(F.lit(1)).alias("n")))


def freq_items(df: DataFrame, cols: Sequence[str],
               support: float = 0.01) -> DataFrame:
    """Approximate heavy hitters per column (Karp/misra-gries style,
    Spark built-in): items with frequency >= support. Single pass, no
    shuffle of the raw table; result may contain false positives
    (contract of the algorithm), never false negatives."""
    return df.stat.freqItems(list(cols), support)


def heavy_hitters_exact(df: DataFrame, col: str, min_count: int) -> DataFrame:
    """Exact heavy hitters: one partial+final count shuffle, then the
    threshold filter on the (small) aggregated side."""
    return (df.groupBy(col)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= min_count))


def histogram_fixed(df: DataFrame, col: str, lo: float, hi: float,
                    n_buckets: int) -> DataFrame:
    """Fixed-width histogram of a numeric column over [lo, hi)
    (RDD ``histogram`` equivalent — absent from the reference, whose
    only numeric reductions are max/min).

    bucket i covers [lo + i*w, lo + (i+1)*w); values == hi fall in the
    last bucket (closed upper edge, matching Spark RDD semantics);
    out-of-range values are dropped. One partial+final count shuffle
    whose cardinality is n_buckets — constant-size exchange at any SF.
    """
    w = (hi - lo) / n_buckets
    c = F.col(col)
    bucket = F.least(F.floor((c - F.lit(lo)) / F.lit(w)),
                     F.lit(n_buckets - 1)).cast("int")
    return (df.filter((c >= lo) & (c <= hi))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n")))


def summary_stats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """count/mean/stddev/min/max per column, tidy long output, one
    aggregate pass for ALL columns."""
    aggs = []
    for c in cols:
        aggs += [F.count(c).alias(f"{c}|n"),
                 F.avg(c).alias(f"{c}|mean"),
                 F.stddev_samp(c).alias(f"{c}|stddev"),
                 F.min(c).alias(f"{c}|min"),
                 F.max(c).alias(f"{c}|max")]
    row = df.agg(*aggs).first()
    out = [(c, float(row[f"{c}|n"]),
            float(row[f"{c}|mean"]), float(row[f"{c}|stddev"]),
            float(row[f"{c}|min"]), float(row[f"{c}|max"])) for c in cols]
    return df.sparkSession.createDataFrame(
        out, "col string, n double, mean double, stddev double,"
             " min double, max double")


def percentile_by_group(df: DataFrame, group_cols: Sequence[str],
                        value_col: str, ps: Sequence[float],
                        round_to: int = 4) -> DataFrame:
    """Exact (interpolated) percentiles per group — Spark's
    ``percentile`` aggregate, the continuous-quantile semantics
    (lower + (upper-lower)*frac, same formula DuckDB's quantile_cont
    uses, so results replay exactly up to float rounding).

    One hash exchange on the group key; the aggregate buffers each
    group's values (exact percentiles are inherently
    holdall — switch to percentile_approx's GK sketch when groups
    exceed worker memory; see approx.percentile_approx)."""
    aggs = [F.round(F.expr(f"percentile({value_col}, {p})"), round_to)
            .alias(f"p{str(p).replace('.', '_')}")
            for p in ps]
    return df.groupBy(*group_cols).agg(*aggs)


def expectations_audit(df: DataFrame, checks: Sequence[tuple[str, F.Column]],
                       ) -> DataFrame:
    """Declarative data-quality audit (deequ-style): each check is
    ``(name, boolean Column)`` evaluated per row; output is one tidy
    row per check — (check_name, n_rows, n_violations, pass_rate,
    passed).

    The whole audit is ONE aggregate pass over the table (every check
    folds into a conditional count in the same partial+final
    HashAggregate), so auditing k constraints at 100 TB costs one
    scan, not k. The per-check pivot to long format happens on the
    1-row aggregate result (constant size, stack expression — still
    no driver collect)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, cond in checks:
        aggs.append(F.sum(F.when(~cond, 1).otherwise(0)).alias(f"v|{name}"))
    agg = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', `v|{name}`" for name, _ in checks)
    long = agg.selectExpr(
        "_n", f"stack({len(checks)}, {stack_args}) AS (check_name, n_violations)")
    return long.select(
        "check_name", F.col("_n").alias("n_rows"), "n_violations",
        F.round(1 - F.col("n_violations") / F.col("_n"), 6).alias("pass_rate"),
        (F.col("n_violations") == 0).alias("passed"))


def key_skew_report(df: DataFrame, keys: Sequence[str],
                    top_n: int = 20) -> DataFrame:
    """Shuffle-skew diagnostic: the ``top_n`` heaviest key groups
    with count, share of all rows, and ratio to the mean group size —
    the number that predicts straggler tasks (a key at 1000x the mean
    is the one to salt or let AQE skew-split). One partial+final
    keyed aggregate, a 1-row global summary broadcast onto it, and a
    TakeOrdered head — nothing unbounded reaches the driver."""
    counts = (df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt")))
    totals = counts.agg(F.sum("cnt").alias("__total"),
                        F.count(F.lit(1)).alias("__groups"))
    return (counts.crossJoin(F.broadcast(totals))
            .select(*keys, "cnt",
                    F.round(F.col("cnt") / F.col("__total"), 6)
                    .alias("share"),
                    F.round(F.col("cnt") * F.col("__groups")
                            / F.col("__total"), 4).alias("x_mean"))
            .orderBy(F.desc("cnt"), *keys).limit(top_n))


def ab_test_zscores(df: DataFrame, group_cols: Sequence[str],
                    variant_col: str, metric_col: str,
                    control: str, treatment: str) -> DataFrame:
    """Two-sample Welch z-test per group for an A/B experiment: one
    conditional-aggregate pass computes each variant's (n, sum,
    sum-of-squares), then mean/variance/z derive as expressions.

    Determinism contract (how the oracle replays this to identical
    doubles): the shuffled float sums are ROUNDED AT THEIR DECIMAL
    GRID first (2-decimal metrics -> sums rounded at 2, squares at 4
    — grid sums are boundary-free), and every later arithmetic step
    runs in a fixed operation order on those identical doubles, so z
    itself needs no rounding. |z| > 1.96 ~ 95% significance; p-values
    are left to the caller (Spark has no erf builtin and the z is the
    engine-checkable part)."""
    m = F.col(metric_col)
    is_c = F.col(variant_col) == control
    is_t = F.col(variant_col) == treatment
    agg = df.groupBy(*group_cols).agg(
        F.sum(F.when(is_c, 1).otherwise(0)).alias("n_c"),
        F.round(F.sum(F.when(is_c, m)), 2).alias("s_c"),
        F.round(F.sum(F.when(is_c, m * m)), 4).alias("q_c"),
        F.sum(F.when(is_t, 1).otherwise(0)).alias("n_t"),
        F.round(F.sum(F.when(is_t, m)), 2).alias("s_t"),
        F.round(F.sum(F.when(is_t, m * m)), 4).alias("q_t"))
    mean_c = F.col("s_c") / F.col("n_c")
    mean_t = F.col("s_t") / F.col("n_t")
    var_c = (F.col("q_c") - F.col("s_c") * F.col("s_c") / F.col("n_c")) \
        / (F.col("n_c") - 1)
    var_t = (F.col("q_t") - F.col("s_t") * F.col("s_t") / F.col("n_t")) \
        / (F.col("n_t") - 1)
    z = (mean_t - mean_c) / F.sqrt(var_c / F.col("n_c")
                                   + var_t / F.col("n_t"))
    return agg.select(*group_cols, "n_c", "n_t",
                      mean_c.alias("mean_control"),
                      mean_t.alias("mean_treatment"),
                      z.alias("z_score"))


def hist_partial(df: DataFrame, keys: Sequence[str], col: str,
                 lo: float, hi: float, bins: int = 64) -> DataFrame:
    """Mergeable quantile summary: per-group fixed-bin histogram
    counts (values clamped into [lo, hi]). The quantile member of
    the rollup family (HLL=distincts, CMS=frequencies, KMV=sets,
    bitmap=exact distincts): write one per (group, day), answer any
    coarser percentile question by adding counts — error is bounded
    by the bin width, deterministically (unlike a sampled t-digest).
    One keyed aggregate, cardinality ≤ groups x bins."""
    w = (hi - lo) / bins
    c = F.col(col).cast("double")
    b = F.least(F.lit(bins - 1),
                F.greatest(F.lit(0),
                           F.floor((c - lo) / w).cast("int")))
    return (df.select(*keys, b.alias("bin"))
            .groupBy(*keys, "bin")
            .agg(F.count(F.lit(1)).alias("cnt")))


def hist_merge_quantiles(partials: DataFrame, keys: Sequence[str],
                         qs: Sequence[float], lo: float, hi: float,
                         bins: int = 64) -> DataFrame:
    """Merge histogram partials up to ``keys`` and estimate the
    ``qs`` quantiles by linear interpolation inside the containing
    bin: pos = q*n; the first bin whose cumulative count reaches pos
    contributes est = lo + (bin + (pos - cum_before)/cnt) * width.
    All arithmetic is a fixed-order expression on exact integer
    counts, so any engine reproduces the estimates bit-for-bit.
    Shuffles: one merge aggregate + one per-group cumulative window
    (partitioned by the group, ordered by ≤ bins rows)."""
    from pyspark.sql.window import Window

    w = (hi - lo) / bins
    merged = (partials.groupBy(*keys, "bin")
              .agg(F.sum("cnt").alias("cnt")))
    win = (Window.partitionBy(*keys).orderBy("bin")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (merged.withColumn("cum", F.sum("cnt").over(win))
           .withColumn("n", F.sum("cnt").over(
               Window.partitionBy(*keys))))
    qlit = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    probe = cum.select(*keys, "bin", "cnt", "cum", "n", qlit)
    pos = F.col("q") * F.col("n")
    containing = probe.filter(
        (pos <= F.col("cum"))
        & (pos > F.col("cum") - F.col("cnt"))
        | ((F.col("q") == 0) & (F.col("cum") == F.col("cnt"))))
    est = (F.lit(float(lo))
           + (F.col("bin")
              + (pos - (F.col("cum") - F.col("cnt"))) / F.col("cnt"))
           * F.lit(float(w)))
    return (containing
            .groupBy(*keys, "q")
            .agg(F.min(est).alias("quantile_est")))


def jackknife_mean(df: DataFrame, value_col: str, group_col: str,
                   id_col: str, g: int = 20,
                   round_dp: int = 6) -> DataFrame:
    """Delete-one-group jackknife standard error of the per-group
    mean: rows are hashed into ``g`` deterministic folds (md5 of the
    id — any engine can replay it), the mean is recomputed leaving
    each fold out, and the spread of those leave-one-out means
    estimates the sampling error — the single-pass error bar for any
    100 TB aggregate, no resampling passes over the data.

    se² = (G−1)/G · Σ_j (mean_{−j} − mean̄)², G = observed folds.

    Plan: ONE pass over the data to (group, fold) partial sums —
    everything after runs on that groups×g-row frame (group totals,
    leave-one-out means, two tiny aggregates), joined back broadcast.
    The big table shuffles once, keyed by (group, fold)."""
    fold = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")),
                               1, 12), 16, 10).cast("long")
            % g).alias("fold")
    f = (df.select(F.col(group_col).alias("grp"), fold,
                   F.col(value_col).alias("v"))
         .groupBy("grp", "fold")
         .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")))
    t = f.groupBy(F.col("grp").alias("__g")) \
        .agg(F.sum("s").alias("ts"), F.sum("n").alias("tn"),
             F.count(F.lit(1)).alias("gf"))
    # a single-fold group has no leave-one-out sample: it drops out
    # (tn == n would divide by zero) — both engines replay this
    loo = (f.join(F.broadcast(t), F.col("grp") == F.col("__g"))
           .filter(F.col("tn") > F.col("n"))
           .select("grp", "ts", "tn", "gf",
                   ((F.col("ts") - F.col("s"))
                    / (F.col("tn") - F.col("n"))).alias("loo")))
    mbar = loo.groupBy(F.col("grp").alias("__g2")) \
        .agg(F.avg("loo").alias("mbar"))
    return (loo.join(F.broadcast(mbar), F.col("grp") == F.col("__g2"))
            .groupBy(F.col("grp").alias(group_col))
            .agg(F.first("tn").alias("n"),
                 F.round(F.first(F.col("ts") / F.col("tn")), round_dp)
                 .alias("mean"),
                 F.first("gf").alias("g_folds"),
                 F.round(F.sqrt(
                     (F.first("gf") - F.lit(1.0)) / F.first("gf")
                     * F.sum(F.pow(F.col("loo") - F.col("mbar"), 2))),
                     round_dp).alias("se_jack")))


def mutual_information(df: DataFrame, col_x: str, col_y: str,
                       y_bins: int = 4, y_lo: float = 0.0,
                       y_hi: float = 100.0,
                       round_dp: int = 6) -> DataFrame:
    """Mutual information (nats) between a categorical column and a
    fixed-grid binning of a numeric column — the dependence screen
    for 'does this feature carry signal about that label' that, at
    corpus scale, ranks metadata columns by usefulness before anyone
    trains on them. Fixed bin edges (not quantiles) keep the
    contingency table deterministic and engine-replayable.

    MI = Σ_xy (n_xy/N) · ln(n_xy·N / (n_x·n_y)) — computed from
    integer cell counts with one division and one log per cell, so
    any engine reproduces it bit-for-bit up to the final tiny sum.

    Plan: ONE pass to the contingency table (cardinality |x|·bins);
    marginals and the MI fold run on that tiny frame (two aggregates
    + broadcast joins). Output: one row (n, n_cells, mi_nats)."""
    w = (y_hi - y_lo) / y_bins
    yb = F.least(F.lit(y_bins - 1),
                 F.greatest(F.lit(0),
                            F.floor((F.col(col_y) - y_lo) / w)
                            .cast("int"))).alias("yb")
    cells = (df.select(F.col(col_x).alias("x"), yb)
             .groupBy("x", "yb").agg(F.count(F.lit(1)).alias("nxy")))
    mx = cells.groupBy(F.col("x").alias("__x")) \
        .agg(F.sum("nxy").alias("nx"))
    my = cells.groupBy(F.col("yb").alias("__y")) \
        .agg(F.sum("nxy").alias("ny"))
    tot = cells.agg(F.sum("nxy").alias("n"))
    j = (cells.join(F.broadcast(mx), F.col("x") == F.col("__x"))
         .join(F.broadcast(my), F.col("yb") == F.col("__y"))
         .crossJoin(F.broadcast(tot)))
    term = (F.col("nxy").cast("double") / F.col("n")) \
        * F.log((F.col("nxy") * F.col("n")).cast("double")
                / (F.col("nx") * F.col("ny")).cast("double"))
    return j.agg(F.first("n").alias("n"),
                 F.count(F.lit(1)).alias("n_cells"),
                 F.round(F.sum(term), round_dp).alias("mi_nats"))


def chi_squared(df: DataFrame, col_x: str, col_y: str,
                y_bins: int = 4, y_lo: float = 0.0,
                y_hi: float = 100.0,
                round_dp: int = 4) -> DataFrame:
    """Pearson chi-squared independence statistic between a
    categorical column and a fixed-grid binning of a numeric column —
    :func:`mutual_information`'s frequentist sibling, same
    single-pass contingency plan. χ² = Σ (o − e)²/e with
    e = n_x·n_y/N from exact integer marginals; the only float ops
    are one division per cell and the final tiny sum, so any engine
    replays it. Output: (n, n_cells, dof, chi2)."""
    w = (y_hi - y_lo) / y_bins
    yb = F.least(F.lit(y_bins - 1),
                 F.greatest(F.lit(0),
                            F.floor((F.col(col_y) - y_lo) / w)
                            .cast("int"))).alias("yb")
    cells = (df.select(F.col(col_x).alias("x"), yb)
             .groupBy("x", "yb").agg(F.count(F.lit(1)).alias("nxy")))
    mx = cells.groupBy(F.col("x").alias("__x")) \
        .agg(F.sum("nxy").alias("nx"))
    my = cells.groupBy(F.col("yb").alias("__y")) \
        .agg(F.sum("nxy").alias("ny"))
    tot = cells.agg(F.sum("nxy").alias("n"))
    # expected counts exist for every (x, y) marginal pair, including
    # cells with zero observed count — build the full grid from the
    # (tiny) marginal frames, not from observed cells
    grid = (mx.crossJoin(my).crossJoin(F.broadcast(tot))
            .join(cells, (F.col("__x") == F.col("x"))
                  & (F.col("__y") == F.col("yb")), "left")
            .select("__x", "__y", "nx", "ny", "n",
                    F.coalesce(F.col("nxy"), F.lit(0)).alias("o")))
    e = (F.col("nx") * F.col("ny")).cast("double") / F.col("n")
    term = F.pow(F.col("o") - e, 2) / e
    return grid.agg(
        F.first("n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        ((F.count_distinct("__x") - 1)
         * (F.count_distinct("__y") - 1)).alias("dof"),
        F.round(F.sum(term), round_dp).alias("chi2"))


def benford_screen(df: DataFrame, group_col: str, value_col: str,
                   round_dp: int = 6) -> DataFrame:
    """Benford first-digit screen per group: observed share of each
    leading significant digit (1-9) vs the Benford expectation
    log10(1 + 1/d), with the chi-squared distance per group — the
    classic synthetic/fabricated-numbers detector for ingest audits.

    Expects fixed-2-decimal data (the events/TPC-H money shape):
    values are scaled to integer cents, whose decimal-string leading
    character is the leading significant digit — pure integer/string
    math, no float log in the binning, so any engine replays it
    bit-for-bit. Rows below 0.01 are excluded (no leading digit).
    Plan: one pass to (group, digit) counts; everything after folds
    on the ≤ groups×9 frame (the 1-9 grid is crossed in so absent
    digits score their full expected deficit)."""
    d = F.substring(F.round(F.col(value_col) * 100, 0)
                    .cast("long").cast("string"), 1, 1).cast("int")
    cells = (df.filter(F.col(value_col) >= 0.01)
             .groupBy(F.col(group_col).alias("grp"), d.alias("digit"))
             .agg(F.count(F.lit(1)).alias("o")))
    tot = cells.groupBy(F.col("grp").alias("__g")) \
        .agg(F.sum("o").alias("n"))
    digits = df.sparkSession.range(1, 10) \
        .select(F.col("id").cast("int").alias("digit"))
    grid = (tot.crossJoin(F.broadcast(digits))
            .join(cells, (F.col("__g") == F.col("grp"))
                  & (cells["digit"] == digits["digit"]), "left")
            .select(F.col("__g").alias("grp"), digits["digit"],
                    "n", F.coalesce(F.col("o"), F.lit(0)).alias("o")))
    p_exp = F.log10(1.0 + 1.0 / F.col("digit"))
    e = p_exp * F.col("n")
    return (grid.groupBy(F.col("grp").alias(group_col))
            .agg(F.first("n").alias("n"),
                 F.round(F.sum(F.pow(F.col("o") - e, 2) / e), round_dp)
                 .alias("benford_chi2")))


def min_max_bin_grid(df: DataFrame, score_col: str,
                     bins: int) -> tuple[DataFrame, Column]:
    """A ``bins``-cell grid between the observed min and max of
    ``score_col``: returns ``df`` cross-joined with its one-row range
    frame (``__lo``, ``__hi``; two tiny aggregates, broadcast) and the
    int bin Column over it. The max lands in the last cell; every row
    is in cell 0 when min == max."""
    rng = df.agg(F.min(score_col).alias("__lo"),
                 F.max(score_col).alias("__hi"))
    b = (F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
         .otherwise(F.least(
             F.lit(bins - 1),
             F.floor((F.col(score_col) - F.col("__lo"))
                     / (F.col("__hi") - F.col("__lo")) * bins)
             .cast("int"))))
    return df.crossJoin(F.broadcast(rng)), b


def binned_roc_auc(df: DataFrame, label_col, score_col: str,
                   bins: int = 256, round_dp: int = 6) -> DataFrame:
    """Binned ROC AUC for a boolean label vs a numeric score — the
    model-quality readout a 100 TB scoring pipeline needs without a
    global sort. Scores are bucketed onto a fixed ``bins``-cell grid
    between the observed min/max (two tiny aggregates), ties within a
    bin take the midrank — the textbook binned Mann-Whitney estimator
    whose error vs the exact AUC is O(1/bins).

    All rank math is EXACT integer arithmetic on the ≤``bins``-row
    cell frame (numerator kept doubled so midranks stay integral);
    the single division happens once at the end, so any engine
    replays the statistic bit-for-bit. Plan: one scan → per-bin
    (pos, neg) counts (one keyed exchange of ≤bins groups), then a
    deterministic sorted-list fold on the one-row frame — no window,
    no sort of the data itself. Capability superset (reference has no
    metrics layer; SURVEY.md §2.11)."""
    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    grid, bin_ = min_max_bin_grid(df, score_col, bins)
    b = grid.select(bin_.alias("b"), lab.cast("int").alias("y"))
    cells = b.groupBy("b").agg(
        F.sum("y").alias("np"),
        F.sum(F.lit(1) - F.col("y")).alias("nn"))
    one = cells.agg(
        F.sum("np").alias("n_pos"), F.sum("nn").alias("n_neg"),
        F.sort_array(F.collect_list(F.struct("b", "np", "nn")))
        .alias("cs"))
    # fold ascending by bin: acc = (cum_neg, 2*rank-sum numerator);
    # num2 += 2*np*cum_neg_below + np*nn  (midrank ties), all BIGINT
    folded = F.aggregate(
        F.col("cs"),
        F.struct(F.lit(0).cast("long").alias("cn"),
                 F.lit(0).cast("long").alias("num2")),
        lambda acc, x: F.struct(
            (acc["cn"] + x["nn"]).alias("cn"),
            (acc["num2"] + 2 * x["np"] * acc["cn"]
             + x["np"] * x["nn"]).alias("num2")))
    return (one.select("n_pos", "n_neg", folded["num2"].alias("__n2"))
            .select("n_pos", "n_neg",
                    F.round(F.col("__n2").cast("double")
                            / (2.0 * F.col("n_pos") * F.col("n_neg")),
                            round_dp).alias("auc")))


def ks_binned(df: DataFrame, group_col: str, value_col: str,
              group_a, group_b, bins: int = 64,
              lo: float = 0.0, hi: float = 100.0,
              round_dp: int = 6) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the
    ``value_col`` distributions of two groups, on a FIXED ``bins``-
    cell grid — the drift test that complements the PSI monitor
    (drift_psi): max CDF gap instead of likelihood-ratio mass. Fixed
    edges (not quantiles) keep the statistic deterministic and
    engine-replayable; grid KS lower-bounds exact KS by at most one
    bin's mass.

    The max-gap search runs on EXACT integers: the fold tracks
    max_b |cumA_b * n_b_total - cumB_b * n_a_total| and divides once
    at the end — no per-bin float compare can tie-break differently
    across engines. Plan: one scan → ≤bins cells → one-row fold."""
    w = (hi - lo) / bins
    bcol = F.least(F.lit(bins - 1),
                   F.greatest(F.lit(0),
                              F.floor((F.col(value_col) - lo) / w)
                              .cast("int"))).alias("b")
    g = F.col(group_col)
    cells = (df.filter(g.isin([group_a, group_b]))
             .select(bcol, g.alias("g"))
             .groupBy("b")
             .agg(F.sum(F.when(F.col("g") == group_a, 1).otherwise(0))
                  .alias("na"),
                  F.sum(F.when(F.col("g") == group_b, 1).otherwise(0))
                  .alias("nb")))
    one = cells.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b"),
                    F.sort_array(F.collect_list(F.struct("b", "na", "nb")))
                    .alias("cs"))
    folded = F.aggregate(
        F.col("cs"),
        F.struct(F.lit(0).cast("long").alias("ca"),
                 F.lit(0).cast("long").alias("cb"),
                 F.lit(0).cast("long").alias("mx")),
        lambda acc, x: F.struct(
            (acc["ca"] + x["na"]).alias("ca"),
            (acc["cb"] + x["nb"]).alias("cb"),
            F.greatest(acc["mx"], F.abs(
                (acc["ca"] + x["na"]) * F.col("n_b")
                - (acc["cb"] + x["nb"]) * F.col("n_a"))).alias("mx")))
    return (one.select("n_a", "n_b", folded["mx"].alias("__mx"))
            .select("n_a", "n_b",
                    F.round(F.col("__mx").cast("double")
                            / (F.col("n_a") * F.col("n_b")).cast("double"),
                            round_dp).alias("ks_stat")))


def dp_noisy_counts(df: DataFrame, group_col: str,
                    epsilon: float = 1.0, seed: int = 7,
                    round_dp: int = 4) -> DataFrame:
    """Differentially-private group counts: exact per-group counts
    plus Laplace(1/ε) noise, with the noise drawn DETERMINISTICALLY
    from an md5-derived uniform per (group, seed) — the repo's
    standard engine-replayable randomness (same construction as
    hash_split / A-Res sampling). For a count query the L1
    sensitivity is 1, so b = 1/ε gives ε-DP under the usual
    one-row-per-individual model; the fixed seed makes repeated
    releases reproducible (a real deployment rotates it per release
    and accounts the budget).

    u = (k + 0.5)/16^12 from the first 12 md5 hex chars (never 0 or
    1, so the inverse-CDF log is finite); noise =
    -b·sign(u-½)·ln(1-2|u-½|). Everything is per-group scalar math
    after ONE keyed count — no second pass, no driver state."""
    b = 1.0 / epsilon
    k = F.conv(F.substring(
        F.md5(F.concat_ws("|", F.col("grp").cast("string"),
                          F.lit(str(seed)))), 1, 12), 16, 10) \
        .cast("long")
    u = (k.cast("double") + 0.5) / float(16 ** 12)
    centered = u - 0.5
    noise = (-F.lit(b) * F.signum(centered)
             * F.log(1.0 - 2.0 * F.abs(centered)))
    return (df.groupBy(F.col(group_col).alias("grp"))
            .agg(F.count(F.lit(1)).alias("n_true"))
            .select(F.col("grp").alias(group_col),
                    F.round(F.col("n_true") + noise, round_dp)
                    .alias("n_noisy"),
                    F.round(noise, round_dp).alias("noise")))


def k_anonymity_audit(df: DataFrame, quasi_cols: Sequence[str],
                      ks: Sequence[int] = (2, 5, 10),
                      round_dp: int = 6) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: for
    each threshold k, how many equivalence classes have fewer than k
    members and how many rows sit in them — the standard re-
    identification risk screen run before a corpus leaves the
    pipeline. One keyed count to class sizes (the only data-sized
    shuffle); each k is a conditional aggregate over the class-size
    frame, output one row per k with the exact integer counts and
    the rounded at-risk share."""
    sizes = (df.groupBy(*[F.col(c) for c in quasi_cols])
             .agg(F.count(F.lit(1)).alias("sz")))
    rows = []
    for k in ks:
        rows.append(sizes.agg(
            F.lit(int(k)).alias("k"),
            F.sum(F.when(F.col("sz") < k, 1).otherwise(0))
            .alias("classes_at_risk"),
            F.sum(F.when(F.col("sz") < k, F.col("sz")).otherwise(0))
            .alias("rows_at_risk"),
            F.round(F.sum(F.when(F.col("sz") < k, F.col("sz"))
                          .otherwise(0)).cast("double")
                    / F.sum("sz"), round_dp).alias("risk_share")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def calibration_bins(df: DataFrame, label_col, score_col: str,
                     bins: int = 10, lo: float = 0.0, hi: float = 1.0,
                     round_dp: int = 6) -> DataFrame:
    """Reliability (calibration) table for a probabilistic score vs a
    boolean outcome: per fixed score bin, the mean predicted score
    and the observed positive rate — the readout that says whether a
    quality/toxicity classifier's 0.9 really means 90%. Fixed
    [lo,hi) grid (probability scores have a natural range), exact
    integer counts; the mean score per bin sums scores pre-rounded to
    a 1e-6 grid as integers, so the per-bin means are bit-replayable
    regardless of partitioning. One scan → ≤bins cells."""
    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    w = (hi - lo) / bins
    b = F.least(F.lit(bins - 1),
                F.greatest(F.lit(0),
                           F.floor((F.col(score_col) - lo) / w)
                           .cast("int"))).alias("bin")
    s6 = F.round(F.col(score_col) * 1_000_000, 0).cast("long")
    return (df.select(b, s6.alias("s6"), lab.cast("int").alias("y"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("y").alias("n_pos"),
                 F.round(F.sum("s6").cast("double")
                         / (F.count(F.lit(1)) * 1_000_000.0), round_dp)
                 .alias("mean_score"),
                 F.round(F.sum("y").cast("double") / F.count(F.lit(1)),
                         round_dp).alias("pos_rate"))
            .orderBy("bin"))


def decile_lift(df: DataFrame, label_col, score_col: str,
                bins: int = 256, deciles: int = 10,
                round_dp: int = 6) -> DataFrame:
    """Gains/lift table: rank rows by score into ``deciles`` equal-
    population tiers (computed from a fixed ``bins``-cell histogram —
    no global sort) and report each tier's positive share and lift
    over the base rate — the campaign-targeting readout paired with
    binned_roc_auc. Tier boundaries land on bin edges, so tier sizes
    are only approximately n/deciles (exact sizes are reported); all
    counts are exact integers, divisions happen last.

    Plan: one scan → ≤bins (pos, total) cells → one-row sorted fold
    assigns each bin to a tier by cumulative population (top scores
    first), then a bounded re-aggregation to the tier table."""
    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    grid, bin_ = min_max_bin_grid(df, score_col, bins)
    b = grid.select(bin_.alias("b"), lab.cast("int").alias("y"))
    cells = b.groupBy("b").agg(F.count(F.lit(1)).alias("m"),
                               F.sum("y").alias("mp"))
    one = cells.agg(F.sum("m").alias("n"), F.sum("mp").alias("np"),
                    F.sort_array(F.collect_list(F.struct("b", "m", "mp")),
                                 asc=False).alias("cs"))
    # descending-score fold: tier = how many deciles the cumulative
    # population BEFORE this bin already filled (floor(cum*D/n))
    tier_of = F.transform(
        F.col("cs"),
        lambda x: F.struct(
            F.least(
                F.lit(deciles - 1),
                F.floor((F.aggregate(
                    F.filter(F.col("cs"), lambda z: z["b"] > x["b"]),
                    F.lit(0).cast("long"), lambda a, z: a + z["m"])
                    * deciles).cast("double") / F.col("n"))
                .cast("int")).alias("tier"),
            x["m"].alias("m"), x["mp"].alias("mp")))
    tiers = (one.select("n", "np", F.explode(tier_of).alias("t"))
             .groupBy(F.col("t.tier").alias("tier"))
             .agg(F.first("n").alias("__n"), F.first("np").alias("__np"),
                  F.sum("t.m").alias("n_rows"),
                  F.sum("t.mp").alias("n_pos")))
    base = F.col("__np").cast("double") / F.col("__n")
    rate = F.col("n_pos").cast("double") / F.col("n_rows")
    return (tiers.select("tier", "n_rows", "n_pos",
                         F.round(rate, round_dp).alias("pos_rate"),
                         F.round(rate / base, round_dp).alias("lift"))
            .orderBy("tier"))


def profile_table(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Column profiling report — the first query anyone runs on an
    unfamiliar 100 TB table: per column, row count, null count,
    EXACT distinct count, and the most frequent value (ties break to
    the smallest value; reported with its count). Output one row per
    column, values stringified for a uniform schema.

    Plan: per column, one keyed count onto the column's distinct
    frame (the only data-sized shuffle), from which nulls, the exact
    distinct count AND the top value all derive — profiling k columns
    costs k aggregation passes, the unavoidable lower bound for exact
    per-column distincts. The per-column results are 1-row frames
    unioned into the report."""
    # deterministic top value needs (count desc, value asc): a bounded
    # TakeOrdered head over the distinct frame, not max_by tie-luck
    outs = []
    for c in cols:
        per = (df.groupBy(F.col(c).alias("v"))
               .agg(F.count(F.lit(1)).alias("n")))
        stats = per.agg(
            F.lit(c).alias("column"),
            F.sum("n").alias("n_rows"),
            F.coalesce(F.sum(F.when(F.col("v").isNull(), F.col("n"))),
                       F.lit(0)).alias("n_null"),
            F.count(F.when(F.col("v").isNotNull(), F.lit(1)))
            .alias("n_distinct"))
        top = (per.filter(F.col("v").isNotNull())
               .orderBy(F.desc("n"), F.asc(F.col("v").cast("string")))
               .limit(1)
               .select(F.col("v").cast("string").alias("top_value"),
                       F.col("n").alias("top_count")))
        outs.append(stats.crossJoin(top))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def l_diversity_audit(df: DataFrame, quasi_cols: Sequence[str],
                      sensitive_col: str,
                      ls: Sequence[int] = (2, 3, 5),
                      round_dp: int = 6) -> DataFrame:
    """l-diversity audit — k-anonymity's stronger sibling: a class of
    identical quasi-identifiers is safe only if the SENSITIVE column
    still takes at least l distinct values inside it (a k-anonymous
    class where everyone shares one diagnosis leaks it anyway). For
    each threshold l: classes below it, rows in them, and the rounded
    at-risk share.

    Plan: one exact distinct-per-class aggregate (two-level groupBy —
    the (quasi, sensitive) pre-aggregate keeps the count-distinct
    mergeable and map-side combined), then each l is a conditional
    fold over the bounded class frame."""
    cells = (df.groupBy(*[F.col(c) for c in quasi_cols],
                        F.col(sensitive_col).alias("__s"))
             .agg(F.count(F.lit(1)).alias("n")))
    classes = (cells.groupBy(*[F.col(c) for c in quasi_cols])
               .agg(F.sum("n").alias("sz"),
                    F.count(F.lit(1)).alias("l_val")))
    rows = []
    for l in ls:
        rows.append(classes.agg(
            F.lit(int(l)).alias("l"),
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(F.col("l_val") < l, 1).otherwise(0))
            .alias("classes_at_risk"),
            F.sum(F.when(F.col("l_val") < l, F.col("sz")).otherwise(0))
            .alias("rows_at_risk"),
            F.round(F.sum(F.when(F.col("l_val") < l, F.col("sz"))
                          .otherwise(0)).cast("double")
                    / F.sum("sz"), round_dp).alias("risk_share")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def gini_by_group(df: DataFrame, group_col: str, value_col: str,
                  id_col: str, round_dp: int = 6) -> DataFrame:
    """Gini coefficient of a non-negative value per group — the
    concentration number (is 1% of users 99% of the spend?) behind
    every revenue/inequality readout. Rank formulation:
    G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over the ascending sort; ties
    permute equal values only, so the integer sum Σ i·x₍ᵢ₎ is
    order-invariant and any engine replays it exactly (id tiebreak
    pins the rank anyway).

    Plan: ONE hash exchange on the group key — the ranking window and
    the per-group fold share the partitioning. Values integerize to
    cents; Σ i·cents stays in int64 for groups up to ~10M rows at
    typical cent magnitudes — beyond that, feed pre-aggregated
    (value, count) bins (hist_partial) instead of raw rows."""
    from pyspark.sql.window import Window

    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    w = Window.partitionBy("grp").orderBy("c", id_col)
    ranked = (df.select(F.col(group_col).alias("grp"),
                        F.col(id_col), cents.alias("c"))
              .withColumn("i", F.row_number().over(w)))
    agg = (ranked.groupBy("grp")
           .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"),
                F.sum(F.col("i") * F.col("c")).alias("si")))
    gini = (2.0 * F.col("si").cast("double")
            / (F.col("n") * F.col("s")).cast("double")
            - (F.col("n") + 1).cast("double") / F.col("n"))
    return (agg.filter(F.col("s") > 0)
            .select(F.col("grp").alias(group_col), "n",
                    F.round(F.col("s") / 100.0, 2).alias("total"),
                    F.round(gini, round_dp).alias("gini"))
            .orderBy(group_col))


def corr_by_group(df: DataFrame, group_col: str, x_col: str,
                  y_col: str, scale: int = 100,
                  round_dp: int = 6) -> DataFrame:
    """Pearson correlation of two numeric columns PER GROUP — the
    split-by version of the global corr matrix. Both columns are
    integerized (×``scale``) first, so all five sufficient statistics
    (Σx, Σy, Σxy, Σx², Σy²) are exact integer sums and the closed
    form replays bit-for-bit on any engine; one keyed exchange with
    map-side partials. NULL correlation for degenerate (constant)
    groups."""
    xi = F.round(F.col(x_col) * scale, 0).cast("long")
    yi = F.round(F.col(y_col) * scale, 0).cast("long")
    s = (df.select(F.col(group_col).alias("grp"), xi.alias("x"),
                   yi.alias("y"))
         .groupBy("grp")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("y") * F.col("y")).alias("syy")))
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")) \
        .cast("double")
    r = F.when((vx > 0) & (vy > 0),
               cov / (F.sqrt(vx) * F.sqrt(vy)))
    return (s.select(F.col("grp").alias(group_col), "n",
                     F.round(r, round_dp).alias("corr"))
            .orderBy(group_col))


def trimmed_mean_by(df: DataFrame, group_col: str, value_col: str,
                    id_col: str, trim_frac: float = 0.1) -> DataFrame:
    """Per-group trimmed mean (exact): drop the ``trim_frac`` lowest
    and highest values (k = floor(n·frac) each side, deterministic
    tie-break on the id column) and average the middle in micro
    units — the robust location estimate a burst of bad telemetry
    can't drag the way the plain mean moves.

    One per-group rank window (PARTITIONED — bounded by group size,
    the usual per-key contract) + one keyed aggregate; the division
    is a single fixed-shape floor(1e4·sum/cnt)."""
    from pyspark.sql.window import Window

    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    ranked = (df.select(F.col(group_col).alias("grp"),
                        cents.alias("c"), F.col(id_col).alias("id"))
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("grp").orderBy(F.col("c").asc(),
                                                    F.col("id").asc())))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy("grp"))))
    k = F.floor(F.col("n") * trim_frac).cast("long")
    mid = ranked.filter((F.col("rn") > k) & (F.col("rn") <= F.col("n") - k))
    return (mid.groupBy(F.col("grp").alias(group_col))
            .agg(F.max("n").alias("n"),
                 F.max(k).alias("k_trimmed"),
                 F.count(F.lit(1)).alias("n_kept"),
                 F.floor(F.lit(10000.0) * F.sum("c") / F.count(F.lit(1)))
                 .cast("long").alias("trimmed_mean_micro")))


def winsorized_mean_by(df: DataFrame, group_col: str, value_col: str,
                       id_col: str, trim_frac: float = 0.1) -> DataFrame:
    """Per-group winsorized mean: instead of DROPPING the k extreme
    values (trimmed_mean_by), CLAMP them to the k+1-th order
    statistic on each side — keeps n constant, which matters when
    groups are small and every observation carries weight. Exact:
    ranks with deterministic id tie-break, clamp bounds are order
    statistics, one fixed-shape floor division at the end."""
    from pyspark.sql.window import Window

    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    ranked = (df.select(F.col(group_col).alias("grp"),
                        cents.alias("c"), F.col(id_col).alias("id"))
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("grp").orderBy(F.col("c").asc(),
                                                    F.col("id").asc())))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy("grp"))))
    k = F.floor(F.col("n") * trim_frac).cast("long")
    bounds = (ranked
              .filter((F.col("rn") == k + 1)
                      | (F.col("rn") == F.col("n") - k))
              .groupBy("grp")
              .agg(F.min("c").alias("lo"), F.max("c").alias("hi")))
    clamped = (ranked.join(bounds, "grp")
               .select("grp", "n",
                       F.least(F.greatest(F.col("c"), F.col("lo")),
                               F.col("hi")).alias("cw")))
    return (clamped.groupBy(F.col("grp").alias(group_col))
            .agg(F.max("n").alias("n"),
                 F.floor(F.lit(10000.0) * F.sum("cw") / F.count(F.lit(1)))
                 .cast("long").alias("winsorized_mean_micro")))

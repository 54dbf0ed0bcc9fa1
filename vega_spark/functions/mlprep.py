"""ML feature-preparation operators — the "last mile" between a
cleaned corpus/warehouse and a trainer: per-row feature encoding,
category target encoding, and a multinomial Naive Bayes baseline
classifier trained and scored entirely inside the engine.

Capability superset (the reference has no ML/feature layer,
SURVEY.md §2.11). Design rules shared by every op here:

- **Exact-integer cores.** Money/count columns are scaled to integer
  cents / token counts before any aggregate, so sums are exact and
  independent of partitioning/summation order; the single float
  division (and, for NB, a per-cell log rounded to a fixed 1e-6
  grid) happens last. Any engine replays the outputs bit-for-bit —
  which is what makes these oracle-checkable, and at 100 TB makes
  reruns reproducible across cluster sizes.
- **Tiny-frame broadcasts.** Global stats (mean/std/min/max), the
  encoding table, the NB log-prob table are all bounded frames
  (1 row, |categories|, or vocab×langs) joined back by broadcast —
  the data-sized side is touched in one narrow pass + at most one
  keyed exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vega_spark.operators.stats import min_max_bin_grid

LOG_SCALE = 1_000_000  # fixed 1e-6 grid for log-prob integerization


def feature_vector(df: DataFrame, id_col: str, value_col: str,
                   cat_col: str, categories: Sequence[str],
                   hash_col: str, hash_buckets: int = 64,
                   round_dp: int = 6) -> DataFrame:
    """Per-row feature encoding: z-score + min-max of ``value_col``,
    fixed-vocabulary one-hot of ``cat_col``, and an md5 feature-hash
    bucket of ``hash_col`` — the standard tabular prep pass.

    The category list is FIXED (passed in), not derived — at scale
    the feature schema must be stable across reruns/partitions, and
    a drifting category set silently reshapes the model input. The
    z/min-max cores run on integer cents: with S=Σv, Q=Σv² (exact
    BIGINTs), z = (n·v − S) / √(n·Q − S²), minmax = (v−min)/(max−min)
    — one aggregate broadcast back over the full frame, no second
    pass, no order-dependent float sums."""
    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    stats = (df.select(cents.alias("c"))
             .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
                  F.sum(F.col("c").cast("decimal(38,0)")).alias("__s"),
                  # cast BEFORE the square: Σc² overflows BIGINT at
                  # ~10⁶ rows of 10⁷-cent values
                  F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
                  .alias("__q"),
                  F.min("c").alias("__lo"), F.max("c").alias("__hi")))
    out = df.select(id_col, cents.alias("__c"), cat_col, hash_col) \
        .crossJoin(F.broadcast(stats))
    # decimal(38,0) products: n·v and n·Q−S² overflow BIGINT already
    # at ~10⁵ rows × 10⁷ cents² — exact decimals keep the core
    # order-independent at any scale, cast to double only for the
    # final divide/sqrt
    z = ((F.col("__n") * F.col("__c") - F.col("__s")).cast("double")
         / F.sqrt((F.col("__n") * F.col("__q")
                   - F.col("__s") * F.col("__s")).cast("double")))
    mm = ((F.col("__c") - F.col("__lo")).cast("double")
          / (F.col("__hi") - F.col("__lo")).cast("double"))
    onehot = [F.when(F.col(cat_col) == c, 1).otherwise(0)
              .alias(f"is_{c}") for c in categories]
    bucket = F.pmod(F.conv(F.substring(F.md5(F.col(hash_col)), 1, 12),
                           16, 10).cast("long"),
                    F.lit(hash_buckets)).cast("int")
    return out.select(F.col(id_col),
                      F.round(z, round_dp).alias("z_value"),
                      F.round(mm, round_dp).alias("mm_value"),
                      *onehot,
                      bucket.alias("hash_bucket"))


def target_encode(df: DataFrame, cat_col: str, target_col: str,
                  m: int = 20, round_dp: int = 6) -> DataFrame:
    """Smoothed target (mean) encoding of a category: enc_c =
    (Σ_c target + m·global_mean) / (n_c + m) — the m-estimate shrink
    toward the prior that keeps rare categories from memorizing
    noise. Exact-rational core on integer cents: enc_c =
    (S_c·N + m·S) / (100·N·(n_c+m)) with every product a BIGINT, one
    division at the end. One keyed aggregate + one 1-row broadcast;
    output is |categories| rows (the encoding table a scoring join
    broadcasts back out)."""
    cents = F.round(F.col(target_col) * 100, 0).cast("long")
    per = (df.select(F.col(cat_col).alias("cat"), cents.alias("c"))
           .groupBy("cat")
           .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("sc")))
    tot = per.agg(F.sum("n").cast("decimal(38,0)").alias("__nn"),
                  F.sum("sc").cast("decimal(38,0)").alias("__ss"))
    # exact decimal rational (S_c·N products pass BIGINT range fast)
    enc = ((F.col("sc").cast("decimal(38,0)") * F.col("__nn")
            + F.lit(int(m)) * F.col("__ss")).cast("double")
           / (F.lit(100.0)
              * (F.col("__nn") * (F.col("n") + F.lit(int(m)))
                 ).cast("double")))
    return (per.crossJoin(F.broadcast(tot))
            .select(F.col("cat").alias(cat_col), "n",
                    F.round(enc, round_dp).alias("target_enc")))


def _tokens(c: F.Column) -> F.Column:
    """The repo's standard whitespace tokenization (functions/text.py
    convention — identical on the DuckDB oracle side)."""
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def naive_bayes_confusion(docs: DataFrame, label_col: str = "lang",
                          text_col: str = "text", id_col: str = "doc_id",
                          vocab_size: int = 500,
                          alpha: float = 1.0) -> DataFrame:
    """Multinomial Naive Bayes, trained AND scored in-engine, reported
    as a label confusion matrix — the classic strong baseline for
    language/domain classification over a corpus, and the shape a
    quality-classifier scoring pass takes at 100 TB (train on a
    sample, broadcast the model, score in one narrow pass).

    Model: P(t|l) = (c_tl + α)/(T_l + α·V) over a bounded top-V
    vocabulary (global term ranking via TakeOrderedAndProject — per-
    partition heaps, no global sort); priors from label doc counts.
    Log-probs are integerized on a fixed 1e-6 grid, so per-document
    scores are EXACT BIGINT sums — partitioning cannot perturb the
    argmax, and any engine replays the matrix. Ties (e.g. docs with
    zero in-vocab tokens under equal priors) break toward the
    lexicographically smallest label — deterministic, documented.

    Plan: tokenize once (narrow) → (label, term) counts (one keyed
    exchange) → vocab head (bounded) → model frame vocab×labels
    (broadcast) → exploded tokens ⋈ broadcast model → per (doc,
    label) integer sum (one keyed exchange) → bounded argmax and a
    |labels|² confusion aggregate. The corpus is shuffled only by
    (doc, label) score keys, never by payload."""
    toks = (docs.select(F.col(id_col).alias("doc"),
                        F.col(label_col).alias("actual"),
                        F.explode(_tokens(F.col(text_col))).alias("t")))
    # NOTE: the exploded token frame feeds three consumers; measured
    # at sf0.1, re-tokenizing per consumer (narrow regex work) beats
    # materializing the exploded frame (2.7 s vs 6.3 s) — explode
    # output is far larger than its input, so recompute wins. On a
    # cluster with pricier text parsing, persist(DISK_ONLY) here.
    # bounded vocabulary: top-V terms by global count, term asc ties
    vocab = (toks.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.desc("n"), F.asc("t")).limit(vocab_size)
             .select("t"))
    # per-(label, vocab term) counts; full label x vocab grid so every
    # term has a smoothed probability under every label
    ltc = (toks.join(F.broadcast(vocab), "t")
           .groupBy(F.col("actual").alias("cl"), F.col("t").alias("ct"))
           .agg(F.count(F.lit(1)).alias("c")))
    labels = (docs.groupBy(F.col(label_col).alias("actual"))
              .agg(F.count(F.lit(1)).alias("nd")))
    tl = ltc.groupBy(F.col("cl").alias("__l")) \
        .agg(F.sum("c").alias("tl"))
    grid = (labels.join(F.broadcast(tl),
                        F.col("actual") == F.col("__l"), "left")
            .select(F.col("actual").alias("l"),
                    F.coalesce(F.col("tl"), F.lit(0)).alias("tl"), "nd")
            .crossJoin(F.broadcast(vocab.select(F.col("t").alias("vt"))))
            .join(ltc, (F.col("l") == F.col("cl"))
                  & (F.col("vt") == F.col("ct")), "left")
            .select(F.col("l"), F.col("vt").alias("t"),
                    F.coalesce(F.col("c"), F.lit(0)).alias("c"),
                    F.col("tl")))
    logp = F.round(F.log((F.col("c") + F.lit(alpha))
                         / (F.col("tl") + F.lit(alpha * vocab_size)))
                   * LOG_SCALE, 0).cast("long")
    model = grid.select("l", "t", logp.alias("s"))
    ntot = labels.agg(F.sum("nd").alias("__nall"))
    prior = (labels.crossJoin(F.broadcast(ntot))
             .select(F.col("actual").alias("l"),
                     F.round(F.log(F.col("nd").cast("double")
                                   / F.col("__nall")) * LOG_SCALE, 0)
                     .cast("long").alias("p")))
    # score: every doc gets a row per label (priors), plus the token
    # evidence for labels with matching vocab terms
    ev = (toks.join(F.broadcast(model), "t")
          .groupBy("doc", "l").agg(F.sum("s").alias("es")))
    base = (docs.select(F.col(id_col).alias("doc"),
                        F.col(label_col).alias("actual"))
            .crossJoin(F.broadcast(prior)))
    scored = (base.join(ev, ["doc", "l"], "left")
              .select("doc", "actual", "l",
                      (F.col("p") + F.coalesce(F.col("es"), F.lit(0)))
                      .alias("score")))
    best = scored.groupBy("doc").agg(F.max("score").alias("__mx"))
    pred = (scored.join(best, "doc")
            .filter(F.col("score") == F.col("__mx"))
            .groupBy("doc", "actual")
            .agg(F.min("l").alias("predicted")))
    return (pred.groupBy("actual", "predicted")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("actual", "predicted"))


def ols_two_feature(df: DataFrame, y_col, x1_col, x2_col,
                    y_scale: int = 100, x2_scale: int = 100,
                    round_dp: int = 6) -> DataFrame:
    """Closed-form two-feature linear regression (with intercept) via
    the centered normal equations — the in-engine baseline for "how
    much does each driver move the target", one aggregate pass over
    any table size.

    The nine raw sums (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y,
    Σx₂y) are EXACT integers (inputs scaled to ints first), and the
    centered co-moments A = n·Σx₁²−(Σx₁)² … are exact decimal(38,0)
    products — so the 2×2 Cramer solve b₁ = (P·C−Q·B)/(A·C−B²) is
    bit-replayable by any engine; only the final divisions are float.
    Decimal width bounds this exact path at roughly n·Σ|x²y| < 10³⁸
    (petabyte row counts with small features fit; beyond that swap
    the core for Spark's streaming co-moment aggregates à la
    corr_matrix — same single-pass plan, float precision).
    Output: n, b0 (intercept), b1, b2 (per natural unit), r2."""
    y = F.round(F.col(y_col) * y_scale, 0).cast("long") \
        if y_scale != 1 else F.col(y_col).cast("long")
    x1 = F.col(x1_col).cast("long")
    x2 = F.round(F.col(x2_col) * x2_scale, 0).cast("long") \
        if x2_scale != 1 else F.col(x2_col).cast("long")
    d = "decimal(38,0)"
    # products are cast to decimal BEFORE summing: Σy² overflows
    # BIGINT already at ~10⁶ rows of 10⁷-cent values — the sums
    # themselves must be wide, not just the co-moment products
    s = (df.select(y.alias("y"), x1.alias("x1"), x2.alias("x2"))
         .agg(F.count(F.lit(1)).cast(d).alias("n"),
              F.sum(F.col("x1").cast(d)).alias("s1"),
              F.sum(F.col("x2").cast(d)).alias("s2"),
              F.sum(F.col("y").cast(d)).alias("sy"),
              F.sum(F.col("x1").cast(d) * F.col("x1")).alias("s11"),
              F.sum(F.col("x2").cast(d) * F.col("x2")).alias("s22"),
              F.sum(F.col("x1").cast(d) * F.col("x2")).alias("s12"),
              F.sum(F.col("x1").cast(d) * F.col("y")).alias("s1y"),
              F.sum(F.col("x2").cast(d) * F.col("y")).alias("s2y"),
              F.sum(F.col("y").cast(d) * F.col("y")).alias("syy")))
    A = F.col("n") * F.col("s11") - F.col("s1") * F.col("s1")
    B = F.col("n") * F.col("s12") - F.col("s1") * F.col("s2")
    C = F.col("n") * F.col("s22") - F.col("s2") * F.col("s2")
    P = F.col("n") * F.col("s1y") - F.col("s1") * F.col("sy")
    Q = F.col("n") * F.col("s2y") - F.col("s2") * F.col("sy")
    Syy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    det = (A * C - B * B).cast("double")
    b1 = (P * C - Q * B).cast("double") / det          # y-units per x1
    b2 = (Q * A - P * B).cast("double") / det          # y-units per x2
    b0 = ((F.col("sy").cast("double")
           - b1 * F.col("s1").cast("double")
           - b2 * F.col("s2").cast("double"))
          / F.col("n").cast("double"))
    r2 = ((b1 * P.cast("double") + b2 * Q.cast("double"))
          / Syy.cast("double"))
    ys, x2s = float(y_scale), float(x2_scale)
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(b0 / ys, round_dp).alias("b0"),
        F.round(b1 / ys, round_dp).alias("b1"),
        F.round(b2 * x2s / ys, round_dp).alias("b2"),
        F.round(r2, round_dp).alias("r2"))


def decision_stump(df: DataFrame, label_col, score_col: str,
                   bins: int = 64, round_dp: int = 6) -> DataFrame:
    """Best single-split decision stump on a numeric feature for a
    boolean label — max weighted-Gini gain over a fixed ``bins``-cell
    candidate grid between the observed min/max. The one-pass answer
    to "is there a usable threshold on this column", and the exact
    building block a boosted-trees pipeline evaluates millions of
    times.

    Plan mirrors binned_roc_auc: one scan → per-bin (pos, neg)
    counts → deterministic sorted fold over the ≤bins cell frame.
    Candidate split k puts bins < k left. Gains are doubles computed
    from identical exact integers on every engine (ties break toward
    the smallest split index), output thresholds are the bin's left
    edge in feature units."""
    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    grid, bin_ = min_max_bin_grid(df, score_col, bins)
    b = grid.select(bin_.alias("b"), lab.cast("int").alias("y"),
                    F.col("__lo"), F.col("__hi"))
    cells = b.groupBy("b").agg(
        F.sum("y").alias("np"),
        F.sum(F.lit(1) - F.col("y")).alias("nn"),
        F.first("__lo").alias("lo"), F.first("__hi").alias("hi"))
    one = cells.agg(
        F.sum("np").alias("tp"), F.sum("nn").alias("tn"),
        F.first("lo").alias("lo"), F.first("hi").alias("hi"),
        F.sort_array(F.collect_list(F.struct("b", "np", "nn")))
        .alias("cs"))

    def gini_term(p, n):
        tot = (p + n).cast("double")
        return F.when(p + n == 0, F.lit(0.0)).otherwise(
            2.0 * p.cast("double") * n.cast("double") / tot)

    # fold over candidate splits: acc tracks cumulative left counts
    # and the best (weighted child impurity, split index); minimizing
    # Σ 2·p·q/|child| == maximizing Gini gain (parent term constant)
    def step(acc, x):
        lp, ln = acc["lp"], acc["ln"]
        cost = F.when(
            (lp + ln == 0)
            | (F.col("tp") - lp + F.col("tn") - ln == 0),
            F.lit(None).cast("double")
        ).otherwise(gini_term(lp, ln)
                    + gini_term(F.col("tp") - lp, F.col("tn") - ln))
        better = cost.isNotNull() & (acc["best_cost"].isNull()
                                     | (cost < acc["best_cost"]))
        return F.struct(
            (lp + x["np"]).alias("lp"), (ln + x["nn"]).alias("ln"),
            F.when(better, cost).otherwise(acc["best_cost"])
            .alias("best_cost"),
            F.when(better, x["b"]).otherwise(acc["best_b"])
            .alias("best_b"))

    z = F.lit(0).cast("long")
    folded = F.aggregate(
        F.col("cs"),
        F.struct(z.alias("lp"), z.alias("ln"),
                 F.lit(None).cast("double").alias("best_cost"),
                 F.lit(None).cast("int").alias("best_b")),
        step)
    parent = gini_term(F.col("tp"), F.col("tn"))
    out = one.select(
        "tp", "tn", "lo", "hi",
        folded["best_b"].alias("split_bin"),
        folded["best_cost"].alias("__cost"),
        parent.alias("__parent"))
    width = (F.col("hi") - F.col("lo")) / bins
    n = (F.col("tp") + F.col("tn")).cast("double")
    return out.select(
        (F.col("tp") + F.col("tn")).alias("n"),
        F.col("tp").alias("n_pos"),
        F.round(F.col("lo") + F.col("split_bin") * width, round_dp)
        .alias("split_value"),
        F.round((F.col("__parent") - F.col("__cost")) / n, round_dp)
        .alias("gini_gain"))


def logistic_regression_gd(df: DataFrame, label_col: F.Column | str,
                           cents_col: F.Column, x_scale: int = 10000,
                           lr: float = 4.0,
                           round_dp: int = 6) -> DataFrame:
    """Two fixed gradient-descent steps of binary logistic regression
    (intercept + one scaled integer feature) — the whole-dataset
    learner as a declarative plan: weights are 1-row broadcast frames,
    each iteration is one scan + aggregate, nothing ever reaches the
    driver. Two steps is the distillable core — the same chain
    extends to any fixed depth, and at 100 TB each step stays a
    single map-side-combined aggregate over the data.

    Determinism across engines: the feature is an exact integer
    (cents), so step 1's gradient from w=0 (where every σ(z) is
    EXACTLY 0.5) reduces to integer sums; step 2's per-row σ(z)−y
    terms are quantized to 1e-6 integers before summing, so the sum
    is order-independent and both engines agree bit-for-bit (the only
    cross-engine risk is a per-row exp() ulp landing exactly on a
    quantization boundary — probability ~1e-10/row). Output: one row
    with n, the step-2 weights, training accuracy and mean log-loss
    at those weights."""
    lab = (F.col(label_col) if isinstance(label_col, str)
           else label_col).cast("long")
    base = df.select(lab.alias("y"), cents_col.cast("long").alias("xc"))
    # step 1 from w=(0,0): sigma(0)=0.5 exactly, so the gradient is
    # g0 = 0.5*n - sum(y), g1 = (0.5*sum(xc) - sum(y*xc))/x_scale —
    # all integer sums
    s1 = base.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"),
                  F.sum("xc").alias("sx"),
                  F.sum(F.col("y") * F.col("xc")).alias("syx"))
    w1 = s1.select(
        "n",
        (F.lit(-lr) * (0.5 * F.col("n") - F.col("sy"))
         / F.col("n")).alias("w0"),
        (F.lit(-lr) * (0.5 * F.col("sx") - F.col("syx"))
         / F.lit(float(x_scale)) / F.col("n")).alias("w1"))
    x = F.col("xc").cast("double") / F.lit(float(x_scale))
    z1 = F.col("w0") + F.col("w1") * x
    p1 = F.lit(1.0) / (F.lit(1.0) + F.exp(-z1))
    # per-row residuals quantized to exact 1e-6 integers: the shuffle
    # sums bigints, so partial-aggregation order cannot change the sum
    q = F.round((p1 - F.col("y")) * 1e6, 0).cast("long")
    s2 = (base.crossJoin(F.broadcast(w1))
          .agg(F.first("n").alias("n"), F.first("w0").alias("w0a"),
               F.first("w1").alias("w1a"),
               F.sum(q).alias("qg0"), F.sum(q * F.col("xc")).alias("qg1")))
    w2 = s2.select(
        "n",
        (F.col("w0a") - F.lit(lr) * (F.col("qg0").cast("double") / 1e6)
         / F.col("n")).alias("w0"),
        (F.col("w1a") - F.lit(lr)
         * (F.col("qg1").cast("double") / 1e6 / F.lit(float(x_scale)))
         / F.col("n")).alias("w1"))
    z2 = F.col("w0") + F.col("w1") * x
    p2 = F.lit(1.0) / (F.lit(1.0) + F.exp(-z2))
    hit = (F.when((z2 > 0) == (F.col("y") == 1), 1).otherwise(0))
    qll = F.round(
        -(F.col("y") * F.log(p2)
          + (F.lit(1) - F.col("y")) * F.log(F.lit(1.0) - p2)) * 1e6,
        0).cast("long")
    return (base.crossJoin(F.broadcast(w2))
            .agg(F.first("n").alias("n"),
                 F.round(F.first("w0"), round_dp).alias("w0"),
                 F.round(F.first("w1"), round_dp).alias("w1"),
                 F.round(F.sum(hit).cast("double")
                         / F.first("n"), round_dp).alias("accuracy"),
                 F.round(F.sum(qll).cast("double") / 1e6
                         / F.first("n"), round_dp).alias("log_loss")))


def woe_iv(df: DataFrame, label_col, score_col: str, bins: int = 10,
           lo: float = 0.0, hi: float = 100.0,
           round_dp: int = 6) -> DataFrame:
    """Weight-of-evidence / information-value screen: per fixed score
    bin, WOE = ln(pos_share / neg_share) with 0.5 Laplace smoothing,
    plus each bin's IV contribution and the feature's total IV — the
    credit-scoring-standard answer to 'does this feature separate the
    classes, and monotonically?'.

    One scan to the ≤``bins`` contingency cells (exact integer pos /
    neg counts); totals broadcast back; every float op (two smoothed
    divisions, one ln, one product per bin) runs on the bounded cell
    frame in a fixed order, so any engine replays it."""
    lab = (F.col(label_col) if isinstance(label_col, str)
           else label_col).cast("int")
    w = (hi - lo) / bins
    b = F.least(F.lit(bins - 1),
                F.greatest(F.lit(0),
                           F.floor((F.col(score_col) - lo) / w)
                           .cast("int"))).alias("bin")
    cells = (df.select(b, lab.alias("y"))
             .groupBy("bin")
             .agg(F.sum("y").alias("pos"),
                  F.sum(F.lit(1) - F.col("y")).alias("neg")))
    tot = cells.agg(F.sum("pos").alias("pt"), F.sum("neg").alias("nt"))
    ps = ((F.col("pos") + 0.5)
          / (F.col("pt") + F.lit(0.5) * bins))
    ns = ((F.col("neg") + 0.5)
          / (F.col("nt") + F.lit(0.5) * bins))
    woe = F.log(ps / ns)
    contrib = (ps - ns) * woe
    per = (cells.crossJoin(F.broadcast(tot))
           .select("bin", "pos", "neg",
                   F.round(woe, round_dp).alias("woe"),
                   F.round(contrib, round_dp).alias("iv_contrib"),
                   contrib.alias("__c")))
    iv = per.agg(F.round(F.sum("__c"), round_dp).alias("iv"))
    return (per.crossJoin(F.broadcast(iv))
            .select("bin", "pos", "neg", "woe", "iv_contrib", "iv")
            .orderBy("bin"))


def user_feature_mart(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      value_col: str = "value", id_col: str = "event_id",
                      convert_type: str = "purchase",
                      round_dp: int = 6) -> DataFrame:
    """Per-user feature mart: the churn/LTV modeling table built in
    ONE exchange — event counts, conversion counts, active-day span
    and count, exact-cents monetary stats, and the max inter-event
    gap (seconds). The ordered gap uses a window over the SAME user
    partitioning the aggregate reuses, so the plan stays at a single
    hash exchange; all sums are exact integers with divisions last."""
    from pyspark.sql.window import Window

    sec = F.unix_timestamp(F.col(ts_col)).cast("long")
    e = events.select(F.col(user_col).alias("u"),
                      F.col(type_col).alias("t"),
                      F.round(F.col(value_col) * 100, 0).cast("long")
                      .alias("cents"),
                      sec.alias("s"), F.col(id_col).alias("i"))
    w = Window.partitionBy("u").orderBy("s", "i")
    g = e.withColumn("gap", F.col("s") - F.lag("s").over(w))
    day = (F.col("s") / 86400).cast("long")
    return (g.groupBy(F.col("u").alias(user_col))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.when(F.col("t") == convert_type, 1)
                       .otherwise(0)).alias("n_conversions"),
                 F.count_distinct(day).alias("active_days"),
                 (F.max(day) - F.min(day) + 1).alias("span_days"),
                 F.round(F.sum("cents") / 100.0, 2).alias("total_value"),
                 F.round(F.sum("cents").cast("double") / 100.0
                         / F.count(F.lit(1)), round_dp)
                 .alias("mean_value"),
                 F.max("gap").alias("max_gap_s"))
            .orderBy(user_col))


def covariance_pairs(df: DataFrame, cols: Sequence[str],
                     scale: int = 100) -> DataFrame:
    """Exact covariance numerators for every column pair: one agg
    pass computes per-column sums and pairwise product sums on the
    integer ``scale`` grid (cents by default), then the single result
    row fans out to the d*(d+1)/2 pair frame. cov numerator
    n*S_ij - S_i*S_j is DECIMAL(38,0) end to end — exact under any
    partitioning, so it replays bit-for-bit in any engine (emitted as
    a string: both engines print integers canonically). The rounded
    double ``cov`` divides the exact numerator by n² once.

    Scale shape: ONE map-side-combined aggregation over the table
    (d + d(d+1)/2 partial sums), a 1-row driver frame, no shuffle of
    row data — the covariance of a 100 TB table costs one scan."""
    names = list(cols)
    ints = {c: F.round(F.col(c) * scale, 0).cast("long") for c in names}
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in names:
        aggs.append(F.sum(ints[c]).alias(f"s_{c}"))
    for i, ci in enumerate(names):
        for cj in names[i:]:
            aggs.append(
                F.sum((ints[ci].cast("decimal(19,0)")
                       * ints[cj].cast("decimal(19,0)"))
                      .cast("decimal(38,0)")).alias(f"p_{ci}_{cj}"))
    one = df.agg(*aggs)
    n = F.col("n").cast("decimal(38,0)")
    pairs = []
    for i, ci in enumerate(names):
        for cj in names[i:]:
            num = (n * F.col(f"p_{ci}_{cj}")
                   - F.col(f"s_{ci}").cast("decimal(38,0)")
                   * F.col(f"s_{cj}").cast("decimal(38,0)"))
            pairs.append(F.struct(
                F.lit(ci).alias("ci"), F.lit(cj).alias("cj"),
                num.cast("decimal(38,0)").cast("string").alias("cov_num"),
                F.round(num.cast("double")
                        / (F.col("n").cast("double") * F.col("n")
                           * float(scale * scale)), 6).alias("cov")))
    return (one.select(F.explode(F.array(*pairs)).alias("p"))
            .select("p.ci", "p.cj", "p.cov_num", "p.cov"))


def pca_fit(df: DataFrame, cols: Sequence[str],
            scale: int = 100) -> dict:
    """Principal components from the exact covariance: the d x d
    matrix (d = len(cols), constant-size) is assembled on the driver
    from ``covariance_pairs`` and eigendecomposed with numpy —
    O(d³) driver work, independent of row count. Returns
    {"cols", "mean", "components" (rows = PCs, descending
    eigenvalue), "explained_variance"}. Sign convention: each
    component's largest-|loading| entry is made positive, so results
    are deterministic across BLAS builds."""
    import numpy as np

    names = list(cols)
    stats = covariance_pairs(df, names, scale).collect()
    one = df.agg(F.count(F.lit(1)).alias("n"),
                 *[F.sum(F.round(F.col(c) * scale, 0).cast("long"))
                   .alias(f"s_{c}") for c in names]).collect()[0]
    n = one["n"]
    mean = np.array([one[f"s_{c}"] / n / scale for c in names])
    d = len(names)
    cov = np.zeros((d, d))
    idx = {c: i for i, c in enumerate(names)}
    for r in stats:
        v = int(r.cov_num) / (n * n * scale * scale)
        cov[idx[r.ci], idx[r.cj]] = v
        cov[idx[r.cj], idx[r.ci]] = v
    vals, vecs = np.linalg.eigh(cov)       # ascending
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    comps = vecs.T.copy()
    for k in range(d):
        j = int(np.abs(comps[k]).argmax())
        if comps[k, j] < 0:
            comps[k] = -comps[k]
    return {"cols": names, "mean": mean, "components": comps,
            "explained_variance": vals}


def pca_project(df: DataFrame, model: dict, k: int,
                out_prefix: str = "pc") -> DataFrame:
    """Project rows onto the first ``k`` principal components with
    pure JVM column arithmetic (d multiply-adds per component —
    whole-stage-codegen narrow pass, no Python in the row path)."""
    names = model["cols"]
    mean = model["mean"]
    comps = model["components"]
    out = df
    for p in range(k):
        expr = None
        for j, c in enumerate(names):
            term = (F.col(c) - float(mean[j])) * float(comps[p, j])
            expr = term if expr is None else expr + term
        out = out.withColumn(f"{out_prefix}{p + 1}", expr)
    return out


def cv_decision_stump(df: DataFrame, label_col, score_col: str,
                      id_col: str, folds: int = 5, bins: int = 20,
                      round_dp: int = 6) -> DataFrame:
    """K-fold cross-validation of the binned decision stump, computed
    ENTIRELY on the (fold x bin) cell frame: rows hash into md5
    folds, one scan bins them into per-(fold, bin) class counts, and
    because every row in a cell shares its bin AND its fold, both the
    k trainings (training counts = bin totals minus the held-out
    fold's own counts) and the k held-out evaluations (a cell's rows
    are all predicted alike) are exact arithmetic on that
    folds x bins frame. ONE data scan + ONE bounded shuffle,
    independent of k — the textbook "k passes over the data" CV
    collapses into cell algebra, which is also what makes it replay
    exactly in any engine.

    Candidate splits: each bin b present in the cells puts bins < b
    left; children must be non-empty; weighted Gini cost, ties to
    the smallest bin. Children predict their training majority
    (positive iff pos > neg). Output per fold: train/test sizes,
    split threshold (bin left edge), held-out correct count and
    accuracy."""
    from pyspark.sql.window import Window

    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    fold = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")),
                               1, 12), 16, 10).cast("long")
            % folds).alias("fold")
    grid, bin_ = min_max_bin_grid(df, score_col, bins)
    binned = grid.select(fold, bin_.alias("b"), lab.cast("int").alias("y"),
                         F.col("__lo"), F.col("__hi"))
    cells = binned.groupBy("fold", "b").agg(
        F.sum("y").alias("np"),
        F.sum(F.lit(1) - F.col("y")).alias("nn"),
        F.first("__lo").alias("lo"), F.first("__hi").alias("hi"))
    tot = cells.groupBy(F.col("b").alias("tb")).agg(
        F.sum("np").alias("tnp"), F.sum("nn").alias("tnn"))
    fold_ids = cells.select("fold").distinct()
    # per-(fold, bin) TRAINING counts: bin totals minus the held-out
    # fold's own cell (grid is folds x bins — bounded)
    own = cells.select(F.col("fold").alias("cf"), F.col("b").alias("cb"),
                       F.col("np").alias("cnp"), F.col("nn").alias("cnn"))
    grid = (fold_ids.crossJoin(tot)
            .join(own, (F.col("fold") == F.col("cf"))
                  & (F.col("tb") == F.col("cb")), "left_outer")
            .select("fold", F.col("tb").alias("b"),
                    (F.col("tnp") - F.coalesce(F.col("cnp"), F.lit(0)))
                    .alias("trp"),
                    (F.col("tnn") - F.coalesce(F.col("cnn"), F.lit(0)))
                    .alias("trn")))
    w = (Window.partitionBy("fold").orderBy("b")
         .rowsBetween(Window.unboundedPreceding, -1))
    wt = Window.partitionBy("fold")
    cand = grid.select(
        "fold", "b",
        F.coalesce(F.sum("trp").over(w), F.lit(0)).alias("lp"),
        F.coalesce(F.sum("trn").over(w), F.lit(0)).alias("ln"),
        F.sum("trp").over(wt).alias("ttp"),
        F.sum("trn").over(wt).alias("ttn"))
    rp = F.col("ttp") - F.col("lp")
    rn = F.col("ttn") - F.col("ln")

    def gini(p, n):
        return F.when(p + n == 0, F.lit(0.0)).otherwise(
            2.0 * p.cast("double") * n.cast("double")
            / (p + n).cast("double"))

    cand = cand.withColumn(
        "cost",
        F.when((F.col("lp") + F.col("ln") == 0) | (rp + rn == 0),
               F.lit(None).cast("double"))
        .otherwise(gini(F.col("lp"), F.col("ln")) + gini(rp, rn)))
    pick = Window.partitionBy("fold").orderBy(
        F.col("cost").asc_nulls_last(), F.col("b").asc())
    model = (cand.withColumn("rk", F.row_number().over(pick))
             .filter((F.col("rk") == 1) & F.col("cost").isNotNull())
             .select("fold", F.col("b").alias("sb"),
                     (F.col("lp") > F.col("ln")).cast("int")
                     .alias("left_pred"),
                     (rp > rn).cast("int").alias("right_pred"),
                     (F.col("ttp") + F.col("ttn")).alias("n_train")))
    # held-out evaluation on the fold's OWN cells: a cell's rows all
    # get the same prediction, so correctness is count algebra
    ev = (cells.join(F.broadcast(model), "fold")
          .select("fold", "n_train", "np", "nn", "lo", "hi", "sb",
                  F.when(F.col("b") < F.col("sb"), F.col("left_pred"))
                  .otherwise(F.col("right_pred")).alias("pred")))
    width = (F.col("hi") - F.col("lo")) / bins
    return (ev.groupBy("fold")
            .agg(F.first("n_train").alias("n_train"),
                 F.sum(F.col("np") + F.col("nn")).alias("n_test"),
                 F.sum(F.when(F.col("pred") == 1, F.col("np"))
                       .otherwise(F.col("nn"))).alias("n_correct"),
                 F.round(F.first("lo") + F.first("sb")
                         * F.first(width), round_dp)
                 .alias("split_value"))
            .withColumn("acc",
                        F.round(F.col("n_correct").cast("double")
                                / F.col("n_test").cast("double"),
                                round_dp)))


def conformal_intervals(df: DataFrame, y_col, pred_col,
                        id_col: str, group_col: str,
                        alpha: float = 0.1, bins: int = 512,
                        round_dp: int = 6) -> DataFrame:
    """Split-conformal prediction intervals with a distribution-free
    coverage guarantee: rows hash (md5 parity) into a CALIBRATION and
    a SERVE half; per group, q̂ is the ceil((n_cal+1)(1-alpha))-th
    smallest calibration residual — estimated CONSERVATIVELY as the
    upper edge of its fixed-bin histogram cell, so the ≥ 1-alpha
    guarantee survives the binning — and the serve half reports its
    achieved coverage |y - ŷ| <= q̂.

    Scale shape: no global sort anywhere — the residual quantile runs
    as one keyed (group, bin) aggregate + a ≤ bins-row per-group
    cumulative window (the hist_merge_quantiles pattern), and the
    coverage check is a broadcast join of the tiny per-group model
    back onto the serve rows. Two scans of the table total,
    independent of n. Every branch replays exactly in SQL."""
    from pyspark.sql.window import Window

    y = (F.col(y_col) if isinstance(y_col, str) else y_col).cast("double")
    p = (F.col(pred_col) if isinstance(pred_col, str)
         else pred_col).cast("double")
    is_cal = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")),
                                 1, 12), 16, 10).cast("long")
              % 2 == 0)
    base = df.select(F.col(group_col).alias("g"),
                     F.abs(y - p).alias("r"), is_cal.alias("cal"))
    calr = base.filter("cal")
    gmax = calr.groupBy("g").agg(F.max("r").alias("rmax"),
                                 F.count(F.lit(1)).alias("n_cal"))
    b = F.when(F.col("rmax") == 0, F.lit(0)).otherwise(
        F.least(F.lit(bins - 1),
                F.floor(F.col("r") * bins / F.col("rmax")).cast("int")))
    cells = (calr.join(F.broadcast(gmax), "g")
             .select("g", "rmax", "n_cal", b.alias("b"))
             .groupBy("g", "rmax", "n_cal", "b")
             .agg(F.count(F.lit(1)).alias("cnt")))
    win = (Window.partitionBy("g").orderBy("b")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    k = F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - alpha))
    hit = (cells.withColumn("cum", F.sum("cnt").over(win))
           .withColumn("k", k)
           .filter((F.col("cum") >= F.col("k"))
                   & (F.col("cum") - F.col("cnt") < F.col("k"))))
    model = hit.select(
        "g", "n_cal", "k",
        ((F.col("b") + 1) * F.col("rmax") / bins).alias("qhat"))
    serve = (base.filter(~F.col("cal"))
             .join(F.broadcast(model), "g")
             .groupBy("g")
             .agg(F.first("n_cal").alias("n_cal"),
                  F.first("k").alias("k"),
                  F.round(F.first("qhat"), round_dp).alias("qhat"),
                  F.count(F.lit(1)).alias("n_serve"),
                  F.sum(F.when(F.col("r") <= F.col("qhat"), 1)
                        .otherwise(0)).alias("n_covered")))
    return serve.withColumn(
        "coverage", F.round(F.col("n_covered").cast("double")
                            / F.col("n_serve").cast("double"), round_dp))

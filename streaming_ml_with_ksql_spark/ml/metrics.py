"""Model-evaluation metrics as DataFrame operators.

The reference trains and serves a classifier but never reports quality
beyond the training job's AUC (reference: SparkTrainingJob §evaluator);
a production scoring pipeline owes its owners a continuously-computable
evaluation surface. ``classification_report`` is the standard one —
per-class precision/recall/F1 plus support — computed from three keyed
counts (true, predicted, agreeing) over a (label, prediction) frame.

Exactness discipline: every metric is a ratio of small integers
evaluated through ONE fixed expression shape both engines restate
verbatim (the zscore/scale_features pattern), with zero-denominator
guards emitting 0.0 — so reports hash-check exactly cross-engine.
Shape: ONE map-side-combined aggregation to the bounded (label, pred)
confusion cells, then every count derives from that tiny frame — the
prediction scan runs exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import sizing

__all__ = ["classification_report", "roc_auc_binary",
           "calibration_bins", "spearman_correlation"]


def classification_report(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """(class, n_true_d, n_pred_d, tp_d, precision, recall, f1) — one row
    per class observed as label OR prediction; metrics rounded at 6 dp
    with 0.0 for undefined (empty-denominator) cases."""
    pairs = df.select(
        F.col(label_col).alias("label"), F.col(pred_col).alias("pred")
    )
    # ONE corpus pass (r15, guide §2.4 + the CLAUDE.md cell-histogram
    # idiom): aggregate to the (label, pred) confusion cells — bounded by
    # |classes|² regardless of row count — and derive every report count
    # from that tiny materialized frame. The previous shape ran the
    # upstream prediction scan FOUR times (classes/n_true/n_pred/tp each
    # re-executed it); counts are identical because each is a sum of the
    # same cells. The eager checkpoint is scale-safe: the frame cannot
    # outgrow the class dimension squared.
    cells = (
        pairs.groupBy("label", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(sizing.materialize, "report cells, read four times")
    )
    classes = (
        cells.select(F.col("label").alias("class"))
        .unionByName(cells.select(F.col("pred").alias("class")))
        .distinct()
    )
    n_true = cells.groupBy(F.col("label").alias("class")).agg(
        F.sum("n").cast("double").alias("n_true_d")
    )
    n_pred = cells.groupBy(F.col("pred").alias("class")).agg(
        F.sum("n").cast("double").alias("n_pred_d")
    )
    tp = (
        cells.filter(F.col("label") == F.col("pred"))
        .groupBy(F.col("label").alias("class"))
        .agg(F.sum("n").cast("double").alias("tp_d"))
    )
    base = (
        classes.join(n_true, "class", "left")
        .join(n_pred, "class", "left")
        .join(tp, "class", "left")
        .select(
            "class",
            F.coalesce("n_true_d", F.lit(0.0)).alias("n_true_d"),
            F.coalesce("n_pred_d", F.lit(0.0)).alias("n_pred_d"),
            F.coalesce("tp_d", F.lit(0.0)).alias("tp_d"),
        )
    )
    p = F.when(
        F.col("n_pred_d") > 0, F.col("tp_d") / F.col("n_pred_d")
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("n_true_d") > 0, F.col("tp_d") / F.col("n_true_d")
    ).otherwise(F.lit(0.0))
    f1 = F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
    return base.select(
        "class",
        "n_true_d",
        "n_pred_d",
        "tp_d",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def roc_auc_binary(
    df: DataFrame,
    label: Column,
    score: Column,
    *,
    quantize: int = 10,
) -> DataFrame:
    """Exact distributed ROC-AUC over an integer-quantized score — the
    Mann-Whitney U statistic with average-rank tie handling, computed
    without a global sort.

    The score is quantized to ``floor(score * quantize)`` (the metric is
    DEFINED on the quantized score, so both engines agree exactly); one
    map-side-combined aggregation collapses the corpus to one row per
    distinct quantized score (bounded by the score range x quantize, a
    few thousand cells here), and the rank prefix for each cell comes
    from the O(C^2) broadcast self-join idiom over that bounded cell
    table (topk.py cdf estimator) — never a partition-less window, never
    a corpus-sized sort.

    Rank algebra kept in integers: a cell holding cnt rows after
    ``before`` earlier rows occupies ranks [before+1, before+cnt] whose
    average is before + (cnt+1)/2, so TWICE the positive rank-sum is
    sum(npos * (2*before + cnt + 1)) — an exact BIGINT. With
    U2 = 2*ranksum_pos - npos*(npos+1),  AUC = U2 / (2*npos*nneg): one
    double division of exactly-represented integers, bit-identical on
    any engine (no round(), no libm). BIGINT bounds: U2 <= n^2, exact in
    a double through n ~ 9e7 rows; beyond that lift the two final sums
    to DECIMAL(38,0) / HUGEINT — same plan shape.

    No analog in the reference (it reports only the training job's AUC,
    reference train.py evaluator); this is the continuously-computable
    serving-side twin."""
    s = F.floor(score * quantize).cast("long")
    y = label.cast("long")
    cells = df.groupBy(s.alias("s")).agg(
        F.sum(y).alias("npos"),
        F.sum(F.lit(1) - y).alias("nneg"),
    )
    c2 = cells.select(
        F.col("s").alias("__s2"),
        (F.col("npos") + F.col("nneg")).alias("__n2"),
    )
    with_before = (
        cells.join(F.broadcast(c2), F.col("__s2") < F.col("s"), "left")
        .groupBy("s", "npos", "nneg")
        .agg(F.coalesce(F.sum("__n2"), F.lit(0)).alias("before"))
    )
    agg = with_before.agg(
        F.sum(
            F.col("npos")
            * (2 * F.col("before") + F.col("npos") + F.col("nneg") + 1)
        ).alias("ranksum2"),
        F.sum("npos").alias("np"),
        F.sum("nneg").alias("nn"),
    )
    u2 = F.col("ranksum2") - F.col("np") * (F.col("np") + 1)
    # single-class degenerate input: AUC undefined -> 0.0 (and ANSI mode
    # would raise on the zero divisor; the ab_test_lift lesson)
    auc = F.when(
        (F.col("np") > 0) & (F.col("nn") > 0),
        u2.cast("double") / (2 * F.col("np") * F.col("nn")).cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("np").cast("double").alias("npos_d"),
        F.col("nn").cast("double").alias("nneg_d"),
        u2.cast("double").alias("u2_d"),
        auc.alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    label: Column,
    score: Column,
    *,
    bin_width: float = 50.0,
    n_bins: int = 10,
) -> DataFrame:
    """Fixed-width score-calibration table: per bin, row count, positive
    count, and the observed positive rate in parts-per-million via exact
    integer division — the reliability-diagram input for a deployed
    scorer. One map-side-combined aggregation, no window, no sort; every
    emitted number is an integer cast to double, so the table
    hash-checks on any engine at any scale."""
    b = F.least(F.lit(n_bins - 1), F.floor(score / bin_width)).cast("long")
    y = label.cast("long")
    g = df.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(y).alias("npos")
    )
    return g.select(
        F.col("bin").cast("double").alias("bin_d"),
        F.col("n").cast("double").alias("n_d"),
        F.col("npos").cast("double").alias("npos_d"),
        F.expr("(npos * 1000000L) div n").cast("double").alias("pos_rate_ppm_d"),
    )


def spearman_correlation(
    df: DataFrame,
    x: Column,
    y: Column,
    *,
    quantize: int = 10,
) -> DataFrame:
    """Distributed exact Spearman rank correlation over integer-quantized
    columns — the monotone-association metric (robust to any monotone
    transform of either variable), computed without a global sort by the
    same cell machinery as ``roc_auc_binary``.

    Each variable quantizes to ``floor(v * quantize)``; average ranks per
    distinct cell come from the O(C^2) broadcast prefix idiom over the
    bounded cell tables, kept integral as TWICE the rank
    (2r = 2*before + cnt + 1). Pearson on the doubled ranks equals
    Pearson on the ranks (invariant to affine maps), and its five sums
    are exact BIGINTs — the only float arithmetic is the single final
    expression. BIGINT bound: sum(4*r^2) ~ 4n^3 — exact through ~1e6
    rows; lift the moment sums to DECIMAL(38,0)/HUGEINT past that (same
    plan shape).

    Ties: average ranks (the standard Spearman tie treatment), handled
    exactly by the cell algebra."""

    def _ranked(col: Column, name: str) -> DataFrame:
        s = F.floor(col * quantize).cast("long")
        cells = df.groupBy(s.alias(name)).agg(F.count(F.lit(1)).alias("cnt"))
        c2 = cells.select(
            F.col(name).alias("__s2"), F.col("cnt").alias("__n2")
        )
        return (
            cells.join(F.broadcast(c2), F.col("__s2") < F.col(name), "left")
            .groupBy(name, "cnt")
            .agg(F.coalesce(F.sum("__n2"), F.lit(0)).alias("before"))
            .select(
                name,
                (2 * F.col("before") + F.col("cnt") + 1).alias(f"r2_{name}"),
            )
        )

    sx = F.floor(x * quantize).cast("long")
    sy = F.floor(y * quantize).cast("long")
    base = df.select(sx.alias("qx"), sy.alias("qy"))
    joined = base.join(F.broadcast(_ranked(x, "qx")), "qx").join(
        F.broadcast(_ranked(y, "qy")), "qy"
    )
    g = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2_qx").alias("sa"),
        F.sum("r2_qy").alias("sb"),
        F.sum(F.col("r2_qx") * F.col("r2_qy")).alias("sab"),
        F.sum(F.col("r2_qx") * F.col("r2_qx")).alias("saa"),
        F.sum(F.col("r2_qy") * F.col("r2_qy")).alias("sbb"),
    )
    # the closing moments overflow BIGINT already at ~1e5 rows
    # (n * sum((2r)^2) ~ 4n^3), so they evaluate in DECIMAL(38,0) —
    # exact like DuckDB's HUGEINT — and only the final values cast to
    # double (identical nearest-double conversion on both engines)
    d = lambda c: F.col(c).cast("decimal(38,0)")
    dena = (d("n") * d("saa") - d("sa") * d("sa")).cast("double")
    denb = (d("n") * d("sbb") - d("sb") * d("sb")).cast("double")
    num = (d("n") * d("sab") - d("sa") * d("sb")).cast("double")
    rho = F.when(
        (dena > 0) & (denb > 0), num / (F.sqrt(dena) * F.sqrt(denb))
    ).otherwise(F.lit(0.0))
    return g.select(F.col("n").cast("double").alias("n_d"), rho.alias("rho"))

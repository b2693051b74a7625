"""Batch perceptron in EXACT INTEGER arithmetic — an in-engine linear
classifier whose entire training trajectory is engine- and
partitioning-exact, hence hash-checkable against an unrolled SQL
oracle.

Why this is exactly oracleable when SGD is not: the classic perceptron
update is per-sample (order-dependent), and float gradients diverge
across summation orders. The BATCH variant updates once per epoch with
the SUM of y*x over currently-misclassified points — an order-free
integer aggregate (Rosenblatt's rule applied batch-wise; public
textbook method, independently implemented). With coordinates
quantized once to exact micro-unit BIGINTs and the margin test
y*<w,x> <= 0 in integer arithmetic, every epoch is a deterministic
function of the previous weight vector, so T epochs replay identically
anywhere — the pagerank/kmeans fixed-point discipline applied to a
linear separator.

Scale shape: the weight vector lives as a 65-row (pos, wv) frame
(64 dims + the augmented bias coordinate), BROADCAST into the score
join; each epoch is one join + two map-side-combined groupBys over the
exploded (vec_id, pos, xv) frame — no driver-side collect, no
all-pairs. The exploded frame is materialized ONCE and reused by
every epoch; per-epoch lineage is truncated through the materialized
weight frame. At petabyte positive-counts the y*x sums need
DECIMAL(38) — documented, exact through ~1e5 rows x 4 epochs in BIGINT
here (|w| stays < ~1e10 micro-units, dots < ~1e18).

Reference parity: the reference trains outside the engine
(train.py:288-372); in-engine training is the north-star extension,
alongside kmeans_fixed_point and the integer-Gini stump.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import sizing

__all__ = ["batch_perceptron_trajectory", "fit_stump"]


def batch_perceptron_trajectory(
    emb: DataFrame,
    *,
    epochs: int = 4,
    scale: int = 10**6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    positive_below: int = 5,
) -> DataFrame:
    """Train ``epochs`` batch-perceptron epochs on the binary coarse
    label (label < positive_below -> +1 else -1) and return the
    per-epoch trajectory: (epoch, n_mis, acc_ppm) for epoch 0..epochs,
    where epoch k's stats are measured UNDER w_k (w_0 = 0, so epoch 0
    reports every point misclassified — the y*s <= 0 convention counts
    zero scores as wrong) and w_{k+1} = w_k + sum(y*x over the
    misclassified set)."""
    spark = emb.sparkSession
    px = (
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.expr(
                f"CASE WHEN {label_col} < {positive_below}"
                " THEN 1L ELSE -1L END"
            ).alias("y"),
            F.expr(
                f"transform({vec_col}, x ->"
                f" CAST(floor(CAST(x AS DOUBLE) * {scale}.0) AS BIGINT))"
            ).alias("qv"),
        )
        .select(
            "vec_id",
            "y",
            F.posexplode(F.expr(f"concat(qv, array({scale}L))")).alias(
                "pos", "xv"
            ),
        )
        .transform(sizing.materialize, "perceptron rows, read every epoch")
    )
    dims = px.agg(F.max("pos")).collect()[0][0] + 1  # 64 + bias
    n_total = px.where(F.col("pos") == 0).count()

    w = spark.range(dims).select(
        F.col("id").cast("int").alias("pos"), F.lit(0).cast("long").alias("wv")
    ).transform(sizing.materialize, "perceptron weights, epoch 0")

    stats = []
    for k in range(epochs + 1):
        scores = (
            px.join(F.broadcast(w), "pos")
            .groupBy("vec_id", "y")
            .agg(F.sum(F.expr("xv * wv")).alias("s"))
        )
        mis = scores.where(F.expr("y * s <= 0")).select("vec_id", "y")
        n_mis = mis.count()
        stats.append((k, n_mis))
        if k == epochs:
            break
        upd = (
            px.join(mis.select("vec_id"), "vec_id")
            .groupBy("pos")
            .agg(F.sum(F.expr("y * xv")).alias("dv"))
        )
        w = (
            w.join(upd, "pos", "left")
            .select(
                "pos",
                (F.col("wv") + F.coalesce("dv", F.lit(0).cast("long"))).alias(
                    "wv"
                ),
            )
            .transform(sizing.materialize, "perceptron weights, per epoch")
        )
    out = spark.createDataFrame(stats, "epoch int, n_mis long")
    return out.select(
        F.col("epoch").cast("double").alias("epoch_d"),
        F.col("n_mis").cast("double").alias("n_mis_d"),
        F.expr(f"(({n_total}L - n_mis) * 1000000L) div {n_total}L")
        .cast("double")
        .alias("acc_ppm_d"),
    ).orderBy("epoch_d")


def fit_stump(
    fv: DataFrame, *, n_thresholds: int = 15, grid_div: int = 16
) -> DataFrame:
    """Fit an exact integer-Gini decision stump over a generic
    (fid, v, y) feature-value frame — the factored core of
    decision_stump_embedding, reusable by any feature extractor and by
    the streaming ingest twin (the (fid, v) histogram is an ADDITIVE
    sufficient statistic, so a drained stream of feature rows fits the
    identical stump). One-row output:
    (fid_d, thr_d, cost_ppm_d, n_left_d, train_acc_ppm_d).

    Same determinism/scale contract as the embedding stump: histogram
    first (map-side combined), deterministic integer threshold grid
    between each feature's exact min/max, cost in integer ppm with
    empty-side guards, argmin tie-broken on (fid, thr),
    TakeOrderedAndProject selection."""
    hist = fv.groupBy("fid", "v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    bounds = hist.groupBy("fid").agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.sum("cnt").alias("n"),
        F.sum("pos").alias("p"),
    )
    spark = fv.sparkSession
    # DISTINCT: for features narrower than the grid (hour, weekday) the
    # integer thresholds repeat across j — without dedup the split
    # aggregation would sum the histogram once PER duplicate, inflating
    # n_l/p_l k-fold and corrupting the right-side cost (r8 bug fix,
    # found by the GBDT's monotone-MSE invariant).
    grid = bounds.crossJoin(
        spark.range(1, n_thresholds + 1).select(F.col("id").alias("j"))
    ).select(
        "fid",
        "n",
        "p",
        F.expr(f"lo + ((hi - lo) * j) div {grid_div}").alias("thr"),
    ).distinct()
    # rename the join key on the histogram side: grid descends from hist,
    # and the self-referential join otherwise trips Spark's conflicting-
    # reference resolution on memory-sink-backed frames
    h2 = hist.select(
        F.col("fid").alias("hfid"), "v", "cnt", "pos"
    )
    split = (
        grid.join(h2, F.col("fid") == F.col("hfid"))
        .drop("hfid")
        .groupBy("fid", "thr", "n", "p")
        .agg(
            F.sum(F.expr("CASE WHEN v <= thr THEN cnt ELSE 0 END")).alias("n_l"),
            F.sum(F.expr("CASE WHEN v <= thr THEN pos ELSE 0 END")).alias("p_l"),
        )
    )
    scored = split.select(
        "fid",
        "thr",
        "n",
        "n_l",
        (
            F.expr(
                "CASE WHEN n_l = 0 THEN 0L"
                " ELSE p_l * (n_l - p_l) * 1000000L div n_l END"
            )
            + F.expr(
                "CASE WHEN n - n_l = 0 THEN 0L"
                " ELSE (p - p_l) * ((n - n_l) - (p - p_l)) * 1000000L"
                " div (n - n_l) END"
            )
        ).alias("cost_ppm"),
        F.expr(
            "greatest(p_l, n_l - p_l)"
            " + greatest(p - p_l, (n - n_l) - (p - p_l))"
        ).alias("correct"),
    )
    best = scored.orderBy("cost_ppm", "fid", "thr").limit(1)
    return best.select(
        F.col("fid").cast("double").alias("fid_d"),
        F.col("thr").cast("double").alias("thr_d"),
        F.col("cost_ppm").cast("double").alias("cost_ppm_d"),
        F.col("n_l").cast("double").alias("n_left_d"),
        F.expr("correct * 1000000L div n").cast("double").alias("train_acc_ppm_d"),
    )


def _trunc_div(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (Python // floors; Spark's
    div truncates; DuckDB // floors — every emitted quotient uses this
    form, mirrored in oracles by the ABS CASE idiom)."""
    q = abs(a) // b
    return q if a >= 0 else -q


def gbdt_stump_rounds(
    wide: DataFrame,
    *,
    feature_cols: list[str],
    y_col: str = "y",
    rounds: int = 2,
    n_thresholds: int = 15,
    grid_div: int = 16,
) -> DataFrame:
    """Gradient-boosted REGRESSION stumps trained in-engine, exactly —
    forward-stagewise additive modeling (Friedman 2001) with squared
    loss, learning rate 1 and depth-1 base learners:

      F0 = trunc(mean(y));  round m: fit the stump minimizing SSE on the
      residuals, F += leaf value (trunc'd residual mean per side).

    Determinism: y and all leaf values are integers (cents), residuals
    stay integers through every round, and split SELECTION uses the
    variance-reduction gain S_L²/n_L + S_R²/n_R computed in DOUBLE from
    exactly-representable integers (|S| < 2^53 through sf10 with cents
    units) — cast, *, / and + are correctly rounded identically on both
    engines, and ties break on (fid, thr). Leaf means use
    truncate-toward-zero so negative residual sums agree across engines
    (Spark div truncates, DuckDB // floors — the OLS ABS idiom).

    Train MSE is emitted for every stage; with learning rate 1 the
    truncated leaf value a = trunc(m) satisfies n·a·(a − 2m) ≤ 0, so the
    sequence is provably non-increasing (pinned in tests).

    Scale shape: each round is ONE stack + groupBy histogram over the
    corpus (map-side combined), a 45-row candidate frame, and a
    TakeOrderedAndProject; the chosen split is a 1-row driver-bounded
    scalar (the decision_tree_depth2 contract). Per-round passes are
    O(rows); nothing is quadratic.
    """
    wide = sizing.materialize(wide, "gbdt rows, read every round")
    head = wide.agg(
        F.count(F.lit(1)).alias("n"), F.sum(y_col).alias("sy")
    ).collect()[0]
    n_rows, sy = int(head["n"]), int(head["sy"])
    f0 = _trunc_div(sy, n_rows)

    k = len(feature_cols)
    stack_expr = (
        f"stack({k}, "
        + ", ".join(f"{i + 1}, {c}" for i, c in enumerate(feature_cols))
        + ") AS (fid, v)"
    )
    pred = F.lit(f0)
    stages: list[tuple[int, int, int, int]] = []
    mses: list[int] = []
    for m in range(rounds + 1):
        r = (F.col(y_col) - pred).alias("r")
        sse = int(
            wide.select(r).agg(F.sum(F.col("r") * F.col("r")).alias("s"))
            .collect()[0]["s"]
        )
        mses.append(sse // n_rows)  # sse >= 0: floor == trunc
        if m == rounds:
            break
        long = wide.select(r, *feature_cols).selectExpr(stack_expr, "r")
        hist = long.groupBy("fid", "v").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("r").alias("s")
        )
        bounds = hist.groupBy("fid").agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("cnt").alias("n"),
            F.sum("s").alias("st"),
        )
        spark = wide.sparkSession
        grid = bounds.crossJoin(
            spark.range(1, n_thresholds + 1).select(F.col("id").alias("j"))
        ).select(
            "fid",
            "n",
            "st",
            F.expr(f"lo + ((hi - lo) * j) div {grid_div}").alias("thr"),
        ).distinct()  # narrow features repeat thresholds (see fit_stump)
        h2 = hist.select(F.col("fid").alias("hfid"), "v", "cnt", "s")
        split = (
            grid.join(h2, F.col("fid") == F.col("hfid"))
            .drop("hfid")
            .groupBy("fid", "thr", "n", "st")
            .agg(
                F.sum(F.expr("CASE WHEN v <= thr THEN cnt ELSE 0 END")).alias(
                    "n_l"
                ),
                F.sum(F.expr("CASE WHEN v <= thr THEN s ELSE 0 END")).alias(
                    "s_l"
                ),
            )
        )
        scored = split.select(
            "fid",
            "thr",
            "n",
            "n_l",
            "s_l",
            (F.col("st") - F.col("s_l")).alias("s_r"),
            F.expr(
                "CASE WHEN n_l = 0 OR n - n_l = 0 THEN CAST(-1 AS DOUBLE)"
                " ELSE CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l"
                " + CAST(st - s_l AS DOUBLE) * CAST(st - s_l AS DOUBLE)"
                " / (n - n_l) END"
            ).alias("gain"),
        )
        best = scored.orderBy(
            F.col("gain").desc(), F.col("fid").asc(), F.col("thr").asc()
        ).limit(1).collect()[0]
        fid, thr = int(best["fid"]), int(best["thr"])
        lv = _trunc_div(int(best["s_l"]), int(best["n_l"]))
        rv = _trunc_div(int(best["s_r"]), int(best["n"]) - int(best["n_l"]))
        stages.append((fid, thr, lv, rv))
        fcol = F.col(feature_cols[fid - 1])
        pred = pred + F.when(fcol <= thr, F.lit(lv)).otherwise(F.lit(rv))

    spark = wide.sparkSession
    out = [
        ("n_d", float(n_rows)),
        ("f0_cents_d", float(f0)),
    ]
    for i, (fid, thr, lv, rv) in enumerate(stages, start=1):
        out += [
            (f"fid{i}_d", float(fid)),
            (f"thr{i}_d", float(thr)),
            (f"lv{i}_cents_d", float(lv)),
            (f"rv{i}_cents_d", float(rv)),
        ]
    for i, mse in enumerate(mses):
        out.append((f"mse{i}_centi2_d", float(mse)))
    return spark.range(1).select(
        *[F.lit(v).alias(name) for name, v in out]
    )


def gbdt_tree2_rounds(
    wide: DataFrame,
    *,
    feature_cols: list[str],
    y_col: str = "y",
    rounds: int = 2,
    n_thresholds: int = 15,
    grid_div: int = 16,
) -> DataFrame:
    """Gradient boosting with DEPTH-2 regression trees as the weak
    learner (VERDICT r8 #7 — the depth-2 chain algebra of
    decision_tree_depth2 lifted into the forward-stagewise loop): per
    round, fit the SSE-optimal root stump on the residuals, then the
    SSE-optimal stump on each side of the root split; the tree predicts
    the truncated residual mean of its four cells. Residuals stay BIGINT
    through every round (learning rate 1, truncate-toward-zero leaf
    means), so every stage is exactly oracle-able by the same unrolled
    CTE algebra with two child chains per round.

    Un-splittable cells (a constant-valued child partition, or an empty
    side of a degenerate best split) guard their leaf mean to the cell
    mean / 0 with explicit CASEs mirrored in the oracle — no division
    whose denominator can be zero executes on either engine (the ANSI
    discipline).

    Scale shape: three stack+histogram passes per round (root + two
    children — the child passes scan disjoint row subsets, so the total
    per-round volume is TWO corpus scans), split params are 1-row driver
    scalars, nothing quadratic. MSE per stage is non-increasing: each
    child stump's cells refine the root partition, and truncated cell
    means never increase SSE at lr=1 (n·a·(a − 2m) ≤ 0 per cell)."""
    wide = sizing.materialize(wide, "gbdt rows, read every round")
    head = wide.agg(
        F.count(F.lit(1)).alias("n"), F.sum(y_col).alias("sy")
    ).collect()[0]
    n_rows, sy = int(head["n"]), int(head["sy"])
    f0 = _trunc_div(sy, n_rows)

    k = len(feature_cols)
    stack_expr = (
        f"stack({k}, "
        + ", ".join(f"{i + 1}, {c}" for i, c in enumerate(feature_cols))
        + ") AS (fid, v)"
    )
    spark = wide.sparkSession

    def best_split(frame: DataFrame):
        """SSE-optimal (fid, thr) over ``frame`` (r + features); returns
        the 1-row best dict or None when the frame is empty."""
        long = frame.selectExpr(stack_expr, "r")
        hist = long.groupBy("fid", "v").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("r").alias("s")
        )
        bounds = hist.groupBy("fid").agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("cnt").alias("n"),
            F.sum("s").alias("st"),
        )
        grid = bounds.crossJoin(
            spark.range(1, n_thresholds + 1).select(F.col("id").alias("j"))
        ).select(
            "fid",
            "n",
            "st",
            F.expr(f"lo + ((hi - lo) * j) div {grid_div}").alias("thr"),
        ).distinct()
        h2 = hist.select(F.col("fid").alias("hfid"), "v", "cnt", "s")
        split = (
            grid.join(h2, F.col("fid") == F.col("hfid"))
            .drop("hfid")
            .groupBy("fid", "thr", "n", "st")
            .agg(
                F.sum(F.expr("CASE WHEN v <= thr THEN cnt ELSE 0 END")).alias(
                    "n_l"
                ),
                F.sum(F.expr("CASE WHEN v <= thr THEN s ELSE 0 END")).alias(
                    "s_l"
                ),
            )
        )
        scored = split.select(
            "fid",
            "thr",
            "n",
            "st",
            "n_l",
            "s_l",
            F.expr(
                "CASE WHEN n_l = 0 OR n - n_l = 0 THEN CAST(-1 AS DOUBLE)"
                " ELSE CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l"
                " + CAST(st - s_l AS DOUBLE) * CAST(st - s_l AS DOUBLE)"
                " / (n - n_l) END"
            ).alias("gain"),
        )
        rows = scored.orderBy(
            F.col("gain").desc(), F.col("fid").asc(), F.col("thr").asc()
        ).limit(1).collect()
        return rows[0] if rows else None

    def leaf(s: int, n: int) -> int:
        return _trunc_div(s, n) if n > 0 else 0

    pred = F.lit(f0)
    trees: list[dict] = []
    mses: list[int] = []
    for m in range(rounds + 1):
        r = (F.col(y_col) - pred).alias("r")
        sse = int(
            wide.select(r).agg(F.sum(F.col("r") * F.col("r")).alias("s"))
            .collect()[0]["s"]
        )
        mses.append(sse // n_rows)
        if m == rounds:
            break
        resid = sizing.materialize(wide.select(r, *feature_cols), "gbdt residuals")
        root = best_split(resid)
        rfid, rthr = int(root["fid"]), int(root["thr"])
        rcol = F.col(feature_cols[rfid - 1])
        node = {"root": (rfid, rthr)}
        sides = {}
        for side, cond in (("l", rcol <= rthr), ("r", rcol > rthr)):
            part = resid.filter(cond)
            b = best_split(part)
            if b is None:  # empty side of a degenerate root split
                sides[side] = (1, 0, 0, 0)
                continue
            cfid, cthr = int(b["fid"]), int(b["thr"])
            lv = leaf(int(b["s_l"]), int(b["n_l"]))
            rv = leaf(
                int(b["st"]) - int(b["s_l"]), int(b["n"]) - int(b["n_l"])
            )
            sides[side] = (cfid, cthr, lv, rv)
        node["l"], node["r"] = sides["l"], sides["r"]
        trees.append(node)

        def tree_pred(nd: dict):
            rf, rt = nd["root"]
            rc = F.col(feature_cols[rf - 1])
            out = {}
            for side in ("l", "r"):
                cf, ct, lv, rv = nd[side]
                cc = F.col(feature_cols[cf - 1])
                out[side] = F.when(cc <= ct, F.lit(lv)).otherwise(F.lit(rv))
            return F.when(rc <= rt, out["l"]).otherwise(out["r"])

        pred = pred + tree_pred(node)

    out = [("n_d", float(n_rows)), ("f0_cents_d", float(f0))]
    for i, nd in enumerate(trees, start=1):
        rf, rt = nd["root"]
        out += [(f"t{i}_root_fid_d", float(rf)), (f"t{i}_root_thr_d", float(rt))]
        for side in ("l", "r"):
            cf, ct, lv, rv = nd[side]
            out += [
                (f"t{i}_{side}_fid_d", float(cf)),
                (f"t{i}_{side}_thr_d", float(ct)),
                (f"t{i}_{side}_lv_cents_d", float(lv)),
                (f"t{i}_{side}_rv_cents_d", float(rv)),
            ]
    for i, mse in enumerate(mses):
        out.append((f"mse{i}_centi2_d", float(mse)))
    return spark.range(1).select(
        *[F.lit(v).alias(name) for name, v in out]
    )

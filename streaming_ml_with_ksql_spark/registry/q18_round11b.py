"""Round-11 wave 3: nonparametric two-sample testing (Mann-Whitney U
with tie-corrected z), skip-gram training-pair generation (the word2vec
data op), a Kaplan-Meier conversion-survival curve (new sequential
PRODUCT-fold idiom over a sorted bounded list), the event-type
user-set Jaccard overlap matrix, and a streaming CUSUM ingest twin.

Discipline as established elsewhere in the registry: integer (cents /
ppm / rank-algebra) arithmetic everywhere a hash must match; float ops
only as correctly-rounded +,-,*,/,sqrt chains whose expression strings
are shared VERBATIM between the Spark query and the DuckDB oracle (the
anova_value_by_type lesson). All five queries carry exact oracles.

Reference parity: the reference exposes grouped aggregation and UDF
scoring over streams (/root/reference/README.md:27-70); these are the
training-data/eval extensions the brief mandates beyond that surface.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401
from ..streaming import sinks as stream_sinks

# --------------------------------------------------------------------------
# Mann-Whitney U (weekend vs weekday value) with tie-corrected z
# --------------------------------------------------------------------------

# Final scalar chains, shared VERBATIM by both engines (every operand is
# an exact integer; each /,*,sqrt is one correctly-rounded double op —
# identical bit-for-bit cross-engine). u2 = 2*U (doubled rank-sum form,
# integer-exact with average-rank ties); vard = Var[U] with the standard
# tie correction.
_MW_VARD = (
    "(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) / CAST(12 AS DOUBLE))"
    " * ((CAST(n AS DOUBLE) + CAST(1 AS DOUBLE))"
    " - CAST(tie3 AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE))))"
)
_MW_RB = (
    "CASE WHEN n1 > 0 AND n0 > 0 THEN"
    " CAST(u2 AS DOUBLE) / CAST(n1 * n0 AS DOUBLE) - CAST(1 AS DOUBLE)"
    " ELSE NULL END"
)
_MW_Z = (
    "CASE WHEN vard > CAST(0 AS DOUBLE) THEN"
    " (CAST(u2 AS DOUBLE) - CAST(n1 * n0 AS DOUBLE))"
    " / (CAST(2 AS DOUBLE) * sqrt(vard)) ELSE NULL END"
)

_MW_ORACLE = f"""
    WITH t AS (
      SELECT CAST(floor(value * 10) AS BIGINT) AS s,
             CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wk
      FROM events WHERE value IS NOT NULL),
    cells AS (
      SELECT s, sum(wk) AS n1c, count(*) AS tc FROM t GROUP BY 1),
    wb AS (
      SELECT c.s, c.n1c, c.tc, coalesce(sum(c2.tc), 0) AS before
      FROM cells c LEFT JOIN cells c2 ON c2.s < c.s
      GROUP BY c.s, c.n1c, c.tc),
    agg AS (
      SELECT sum(n1c) AS n1, sum(tc - n1c) AS n0, sum(tc) AS n,
             sum(n1c * (2 * before + tc + 1)) AS ranksum2,
             sum(CAST(tc AS DECIMAL(38,0)) * tc * tc - tc) AS tie3
      FROM wb),
    u AS (
      SELECT n1, n0, n, tie3, ranksum2 - n1 * (n1 + 1) AS u2,
             {_MW_VARD} AS vard
      FROM agg)
    SELECT CAST(n1 AS DOUBLE) AS n_weekend_d,
           CAST(n0 AS DOUBLE) AS n_weekday_d,
           CAST(u2 AS DOUBLE) AS u2_d,
           {_MW_RB} AS rank_biserial,
           {_MW_Z} AS z_value
    FROM u
"""


@register("mann_whitney_weekend_value", _MW_ORACLE)
def q_mann_whitney_weekend_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann-Whitney U test of the weekend effect on event
    value — the rank-based (distribution-free) location test next to
    the KS / Wasserstein / randomization drift screens on the same
    split. Over the bounded deci-quantized value-cell histogram (the
    roc_auc rank-sum idiom): doubled rank-sum with average-rank ties,
    tie-correction term Sum(t^3 - t) computed with the FIRST factor
    cast to DECIMAL(38,0) — the whole product then stays in decimal, so
    a pathological one-cell corpus (tc > 2.09M would overflow the old
    BIGINT cube; ADVICE r11) cannot overflow under ANSI — U / the
    rank-biserial effect size / the tie-corrected z emitted from one
    shared verbatim expression chain. Prefix ranks via the O(C^2)
    broadcast self-join — no global sort, one corpus scan; weekend
    predicate stated per engine (DuckDB dayofweek 0/6, Spark 1/7)."""
    ev = _t(spark, sf_dir, "events")
    t = ev.filter(F.col("value").isNotNull()).select(
        F.floor(F.col("value") * 10).cast("long").alias("s"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    cells = t.groupBy("s").agg(
        F.sum("wk").alias("n1c"), F.count(F.lit(1)).alias("tc")
    )
    c2 = cells.select(F.col("s").alias("s2"), F.col("tc").alias("tc2"))
    wb = (
        cells.join(F.broadcast(c2), F.col("s2") < F.col("s"), "left")
        .groupBy("s", "n1c", "tc")
        .agg(F.coalesce(F.sum("tc2"), F.lit(0)).alias("before"))
    )
    agg = wb.agg(
        F.sum("n1c").alias("n1"),
        F.sum(F.col("tc") - F.col("n1c")).alias("n0"),
        F.sum("tc").alias("n"),
        F.sum(
            F.col("n1c") * (2 * F.col("before") + F.col("tc") + 1)
        ).alias("ranksum2"),
        F.sum(
            F.expr("CAST(tc AS DECIMAL(38,0)) * tc * tc - tc")
        ).alias("tie3"),
    )
    u = agg.selectExpr(
        "n1", "n0", "n", "tie3",
        "ranksum2 - n1 * (n1 + 1) AS u2",
        f"{_MW_VARD} AS vard",
    )
    return u.selectExpr(
        "CAST(n1 AS DOUBLE) AS n_weekend_d",
        "CAST(n0 AS DOUBLE) AS n_weekday_d",
        "CAST(u2 AS DOUBLE) AS u2_d",
        f"{_MW_RB} AS rank_biserial",
        f"{_MW_Z} AS z_value",
    )


# --------------------------------------------------------------------------
# Skip-gram (center, context) training pairs — the word2vec data op
# --------------------------------------------------------------------------

_SKIPGRAM_ORACLE = r"""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    pr AS (
      SELECT unnest(flatten(list_transform(t, (x, i) ->
        list_filter(list_transform([-2, -1, 1, 2], o ->
          CASE WHEN i + o BETWEEN 1 AND len(t)
               THEN struct_pack(center := x, context := t[i + o]) END),
          s -> s IS NOT NULL)))) AS p
      FROM toks),
    c AS (SELECT p.center AS center, p.context AS context, count(*) AS n
          FROM pr GROUP BY 1, 2)
    SELECT center, context, CAST(n AS DOUBLE) AS n_d FROM c
    QUALIFY row_number() OVER (ORDER BY n DESC, center ASC, context ASC)
      <= 100
"""


@register("skipgram_training_pairs", _SKIPGRAM_ORACLE)
def q_skipgram_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair extraction with a symmetric
    window of 2 — the word2vec / embedding-pretraining data generator —
    reported as the top-100 pair histogram with a full deterministic
    tiebreak. Pairs are generated ROW-LOCALLY by one nested array
    lambda over the token array (4 offsets per token, bounds-checked) —
    no positional self-join, so there is no per-document quadratic
    blowup and the stage is linear in corpus tokens and entirely
    JVM-side; only (pair, count) rows shuffle into the global top-k
    (TakeOrderedAndProject, no single-partition window). Spark array
    lambdas index 0-based with 1-based element_at; DuckDB list lambdas
    index 1-based — the offset predicate is stated per engine so the
    emitted pair multiset is identical."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens_col(F.col("text"))
    pairs = docs.select(toks.alias("t")).select(
        F.explode(
            F.expr(
                "flatten(transform(t, (x, i) ->"
                " filter(transform(array(-2, -1, 1, 2), o ->"
                " CASE WHEN i + 1 + o BETWEEN 1 AND size(t)"
                " THEN struct(x AS center, element_at(t, i + 1 + o)"
                " AS context) END), s -> s IS NOT NULL)))"
            )
        ).alias("p")
    )
    c = (
        pairs.select(F.col("p.center").alias("center"),
                     F.col("p.context").alias("context"))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        c.orderBy(F.col("n").desc(), F.col("center").asc(),
                  F.col("context").asc())
        .limit(100)
        .select("center", "context", F.col("n").cast("double").alias("n_d"))
    )


# --------------------------------------------------------------------------
# Kaplan-Meier conversion-survival curve (sequential product fold)
# --------------------------------------------------------------------------

_KM_ORACLE = """
    WITH first_seen AS (
      SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id),
    first_buy AS (
      SELECT user_id, min(ts) AS tb FROM events
      WHERE event_type = 'purchase' GROUP BY user_id),
    lab AS (
      SELECT f.user_id,
             CASE WHEN b.tb IS NOT NULL AND
                  (epoch_us(date_trunc('hour', b.tb))
                   - epoch_us(date_trunc('hour', f.t0))) // 3600000000
                  <= 72
                  THEN (epoch_us(date_trunc('hour', b.tb))
                        - epoch_us(date_trunc('hour', f.t0))) // 3600000000
                  ELSE 72 END AS dur,
             CASE WHEN b.tb IS NOT NULL AND
                  (epoch_us(date_trunc('hour', b.tb))
                   - epoch_us(date_trunc('hour', f.t0))) // 3600000000
                  <= 72
                  THEN 1 ELSE 0 END AS ev
      FROM first_seen f LEFT JOIN first_buy b USING (user_id)),
    g AS (SELECT dur, count(*) AS n_total, sum(ev) AS d FROM lab
          GROUP BY dur),
    r AS (
      SELECT g.dur, g.d, g.n_total - g.d AS c_cens, sum(g2.n_total) AS n_risk
      FROM g JOIN g g2 ON g2.dur >= g.dur
      GROUP BY g.dur, g.d, g.n_total),
    ls AS (
      SELECT list_sort(list(struct_pack(dur := dur,
               f := CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))))
             AS l
      FROM r)
    SELECT CAST(r.dur AS DOUBLE) AS dur_d,
           CAST(r.n_risk AS DOUBLE) AS n_risk_d,
           CAST(r.d AS DOUBLE) AS d_conv_d,
           CAST(r.c_cens AS DOUBLE) AS c_cens_d,
           list_reduce(list_prepend(CAST(1 AS DOUBLE),
             list_transform(list_filter((SELECT l FROM ls),
               x -> x.dur <= r.dur), x -> x.f)),
             (a, b) -> a * b) AS survival
    FROM r
"""


@register("kaplan_meier_conversion", _KM_ORACLE)
def q_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of hours-to-first-purchase per user
    with administrative right-censoring at 72 h (non-converters within
    the window are censored, not events) — the estimator behind
    conversion-latency SLAs, complementing user_life_table's discrete
    hazard with the cumulative product S(t) = prod_{dur<=t}
    (n_risk - d)/n_risk. NEW IDIOM — sequential product fold: each KM
    factor is ONE correctly-rounded division of exact integers, and the
    cumulative product folds over the SORTED duration list in a defined
    left-to-right order (Spark F.aggregate over sort_array, DuckDB
    list_reduce over list_sort with a prepended 1.0) — double
    multiplication is correctly rounded, so the fold hash-matches
    cross-engine exactly where a groupBy product never could. The
    corpus collapses to one row per user, then to <=73 hour cells; the
    at-risk suffix sum is the bounded O(C^2) broadcast self-join;
    hour deltas via the hour-truncated epoch-microsecond idiom
    (nonnegative numerator, so Spark div == DuckDB //). Non-degenerate
    at sf0.01: 56 cells, 127 conversions, 23 censored."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    first_buy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tb"))
    )
    hour_delta = (
        "(unix_micros(date_trunc('hour', tb))"
        " - unix_micros(date_trunc('hour', t0))) div 3600000000"
    )
    lab = first_seen.join(first_buy, "user_id", "left").selectExpr(
        f"CASE WHEN tb IS NOT NULL AND {hour_delta} <= 72"
        f" THEN {hour_delta} ELSE 72 END AS dur",
        f"CASE WHEN tb IS NOT NULL AND {hour_delta} <= 72"
        " THEN 1 ELSE 0 END AS ev",
    )
    g = lab.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_total"), F.sum("ev").alias("d")
    )
    g2 = g.select(F.col("dur").alias("dur2"), F.col("n_total").alias("nt2"))
    r = (
        g.join(F.broadcast(g2), F.col("dur2") >= F.col("dur"))
        .groupBy("dur", "d", "n_total")
        .agg(F.sum("nt2").alias("n_risk"))
        .select(
            "dur", "d", (F.col("n_total") - F.col("d")).alias("c_cens"),
            "n_risk",
        )
    )
    ls = r.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("dur"),
                    (
                        (F.col("n_risk") - F.col("d")).cast("double")
                        / F.col("n_risk").cast("double")
                    ).alias("f"),
                )
            )
        ).alias("l")
    )
    return r.crossJoin(F.broadcast(ls)).select(
        F.col("dur").cast("double").alias("dur_d"),
        F.col("n_risk").cast("double").alias("n_risk_d"),
        F.col("d").cast("double").alias("d_conv_d"),
        F.col("c_cens").cast("double").alias("c_cens_d"),
        F.expr(
            "aggregate(filter(l, x -> x.dur <= dur),"
            " CAST(1 AS DOUBLE), (a, x) -> a * x.f)"
        ).alias("survival"),
    )


# --------------------------------------------------------------------------
# Event-type user-set Jaccard overlap matrix
# --------------------------------------------------------------------------

_TYPE_JACCARD_ORACLE = """
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    per AS (SELECT event_type, count(*) AS nu FROM d GROUP BY 1),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_inter
      FROM d a JOIN d b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT i.type_a, i.type_b,
           CAST(pa.nu AS DOUBLE) AS n_a_d,
           CAST(pb.nu AS DOUBLE) AS n_b_d,
           CAST(i.n_inter AS DOUBLE) AS n_inter_d,
           CAST((i.n_inter * 1000000)
                // (pa.nu + pb.nu - i.n_inter) AS DOUBLE) AS jaccard_ppm_d
    FROM inter i
    JOIN per pa ON pa.event_type = i.type_a
    JOIN per pb ON pb.event_type = i.type_b
"""


@register("event_type_user_jaccard", _TYPE_JACCARD_ORACLE)
def q_event_type_user_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: exact Jaccard similarity of the USER
    SETS behind each event-type pair (do clickers and purchasers
    overlap?), in integer ppm. The corpus collapses to the distinct
    (type, user) frame in one scan; the intersection is a self
    equi-join on user_id (linear — each user contributes at most
    |types|^2/2 pairs, types literal-bounded at 5), and the 5-row
    per-type cardinalities broadcast onto the 10-row pair frame.
    Union via |A|+|B|-|A∩B| — no second pass. The set-overlap
    companion to user_event_type_diversity (per-user entropy-free
    diversity) and copurchase_lift (co-occurrence lift)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id").distinct()
    per = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("nu"))
    a = d.select(F.col("event_type").alias("type_a"), "user_id")
    b = d.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, ["user_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    pa = per.select(F.col("event_type").alias("type_a"),
                    F.col("nu").alias("na"))
    pb = per.select(F.col("event_type").alias("type_b"),
                    F.col("nu").alias("nb"))
    return (
        inter.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .select(
            "type_a", "type_b",
            F.col("na").cast("double").alias("n_a_d"),
            F.col("nb").cast("double").alias("n_b_d"),
            F.col("n_inter").cast("double").alias("n_inter_d"),
            F.expr(
                "CAST((n_inter * 1000000L) div (na + nb - n_inter)"
                " AS DOUBLE)"
            ).alias("jaccard_ppm_d"),
        )
    )


# --------------------------------------------------------------------------
# Streaming CUSUM ingest twin (daily event revenue)
# --------------------------------------------------------------------------

_STREAM_CUSUM_ORACLE = """
    WITH d AS MATERIALIZED (
      SELECT date_trunc('day', ts) AS day,
             sum(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    t AS (SELECT sum(cents) // count(*) AS target FROM d),
    p AS MATERIALIZED (
      SELECT d.day, d.cents,
             sum(d2.cents) - count(*) * (SELECT target FROM t) AS pref
      FROM d JOIN d d2 ON d2.day <= d.day
      GROUP BY d.day, d.cents),
    s AS (
      SELECT p.day, p.cents,
             p.pref - least(0, min(p2.pref)) AS cusum
      FROM p JOIN p p2 ON p2.day <= p.day
      GROUP BY p.day, p.cents, p.pref)
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(cents AS DOUBLE) AS cents_d,
           CAST(cusum AS DOUBLE) AS cusum_cents_d
    FROM s
"""


@register("streaming_cusum_ingest", _STREAM_CUSUM_ORACLE)
def q_streaming_cusum_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSUM change detector maintained AT INGEST: the stateful
    stage is only the daily revenue rollup (ONE complete-mode streaming
    aggregation keyed by calendar day — state is calendar-bounded at
    any corpus size, the streaming_pivot_ingest shape), drained via
    availableNow and finished in batch with the closed-form Page
    prefix identity S_k = P_k - min(0, min_{j<=k} P_j) over the bounded
    daily frame (both prefix reductions are the broadcast self-join
    idiom — no iteration, no SinglePartition window). Integer cents
    throughout; the batch oracle applies verbatim because append-order
    cannot change a complete-mode sum. Streaming twin of
    cusum_daily_revenue (which monitors the orders ledger; this
    monitors the live event stream)."""
    from .q04_streamksql import _STREAM_SEQ, _replay_events

    stream = _replay_events(spark, sf_dir).filter(
        F.col("value").isNotNull()
    )
    daily = stream.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.expr("sum(CAST(floor(value * 100) AS BIGINT))").alias("cents")
    )
    d = stream_sinks.run_to_memory(
        daily,
        f"reg_stream_cusum_{next(_STREAM_SEQ)}",
        output_mode="complete",
    )
    t = d.agg(F.expr("sum(cents) div count(*)").alias("target"))
    d2 = d.select(F.col("day").alias("day2"), F.col("cents").alias("cents2"))
    p = (
        d.join(F.broadcast(d2), F.col("day2") <= F.col("day"))
        .crossJoin(F.broadcast(t))
        .groupBy("day", "cents")
        .agg(
            (F.sum("cents2") - F.count(F.lit(1)) * F.first("target")).alias(
                "pref"
            )
        )
    )
    p2 = p.select(F.col("day").alias("day2"), F.col("pref").alias("pref2"))
    s = (
        p.join(F.broadcast(p2), F.col("day2") <= F.col("day"))
        .groupBy("day", "cents", "pref")
        .agg(
            (F.col("pref") - F.least(F.lit(0), F.min("pref2"))).alias(
                "cusum"
            )
        )
    )
    return s.select(
        "day",
        F.col("cents").cast("double").alias("cents_d"),
        F.col("cusum").cast("double").alias("cusum_cents_d"),
    )


# --------------------------------------------------------------------------
# Welch t-test (weekend vs weekday value) — unequal-variance location test
# --------------------------------------------------------------------------

# Staged verbatim chains (CTE stages in the oracle mirror selectExpr
# stages in the Spark query; every op is a correctly-rounded double op
# on exact integer operands).
_WELCH_STAGE1 = [
    "CAST(sv1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1",
    "CAST(sv0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0",
    "(CAST(svv1 AS DOUBLE) - CAST(sv1 AS DOUBLE) * CAST(sv1 AS DOUBLE)"
    " / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE) AS s21",
    "(CAST(svv0 AS DOUBLE) - CAST(sv0 AS DOUBLE) * CAST(sv0 AS DOUBLE)"
    " / CAST(n0 AS DOUBLE)) / CAST(n0 - 1 AS DOUBLE) AS s20",
]
_WELCH_STAGE2 = (
    "s21 / CAST(n1 AS DOUBLE) + s20 / CAST(n0 AS DOUBLE) AS se2"
)
_WELCH_T = (
    "CASE WHEN se2 > CAST(0 AS DOUBLE)"
    " THEN (m1 - m0) / sqrt(se2) ELSE NULL END AS t_welch"
)
_WELCH_DF = (
    "CASE WHEN se2 > CAST(0 AS DOUBLE) THEN se2 * se2 /"
    " ((s21 / CAST(n1 AS DOUBLE)) * (s21 / CAST(n1 AS DOUBLE))"
    "  / CAST(n1 - 1 AS DOUBLE)"
    "  + (s20 / CAST(n0 AS DOUBLE)) * (s20 / CAST(n0 AS DOUBLE))"
    "  / CAST(n0 - 1 AS DOUBLE)) ELSE NULL END AS df_welch"
)

_WELCH_ORACLE = f"""
    WITH t AS (
      SELECT CAST(floor(value * 100) AS BIGINT) AS v,
             CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wk
      FROM events WHERE value IS NOT NULL),
    g AS (
      SELECT wk, count(*) AS n, sum(v) AS sv,
             sum(CAST(v * v AS DECIMAL(38,0))) AS svv
      FROM t GROUP BY wk),
    p AS (
      SELECT max(CASE WHEN wk = 1 THEN n END) AS n1,
             max(CASE WHEN wk = 0 THEN n END) AS n0,
             max(CASE WHEN wk = 1 THEN sv END) AS sv1,
             max(CASE WHEN wk = 0 THEN sv END) AS sv0,
             max(CASE WHEN wk = 1 THEN svv END) AS svv1,
             max(CASE WHEN wk = 0 THEN svv END) AS svv0
      FROM g),
    s1 AS (
      SELECT n1, n0, {", ".join(_WELCH_STAGE1)} FROM p
      WHERE n1 > 1 AND n0 > 1),
    s2 AS (SELECT n1, n0, m1, m0, s21, s20, {_WELCH_STAGE2} FROM s1)
    SELECT CAST(n1 AS DOUBLE) AS n_weekend_d,
           CAST(n0 AS DOUBLE) AS n_weekday_d,
           m1 - m0 AS mean_diff_cents,
           {_WELCH_T},
           {_WELCH_DF}
    FROM s2
"""


@register("welch_ttest_weekend_value", _WELCH_ORACLE)
def q_welch_ttest_weekend_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of the weekend effect on event
    value — the parametric companion to mann_whitney_weekend_value on
    the same split (rank test robust to shape; Welch efficient under
    normality; divergent verdicts flag heavy tails). Group moments are
    EXACT integers from one scan (cent sums in BIGINT, squared-cent
    sums in DECIMAL(38,0) so a 1000x corpus cannot overflow under
    ANSI); means, pooled-free variances, the Welch statistic and the
    Welch-Satterthwaite df are staged verbatim-shared chains of
    correctly-rounded double ops, so the floats hash-match
    cross-engine. No window, no join — one aggregation and a 2-row
    conditional pivot."""
    ev = _t(spark, sf_dir, "events")
    t = ev.filter(F.col("value").isNotNull()).select(
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    g = t.groupBy("wk").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.expr("CAST(v * v AS DECIMAL(38,0))")).alias("svv"),
    )
    p = g.agg(
        F.expr("max(CASE WHEN wk = 1 THEN n END)").alias("n1"),
        F.expr("max(CASE WHEN wk = 0 THEN n END)").alias("n0"),
        F.expr("max(CASE WHEN wk = 1 THEN sv END)").alias("sv1"),
        F.expr("max(CASE WHEN wk = 0 THEN sv END)").alias("sv0"),
        F.expr("max(CASE WHEN wk = 1 THEN svv END)").alias("svv1"),
        F.expr("max(CASE WHEN wk = 0 THEN svv END)").alias("svv0"),
    )
    s1 = p.filter("n1 > 1 AND n0 > 1").selectExpr(
        "n1", "n0", *_WELCH_STAGE1
    )
    s2 = s1.selectExpr("n1", "n0", "m1", "m0", "s21", "s20", _WELCH_STAGE2)
    return s2.selectExpr(
        "CAST(n1 AS DOUBLE) AS n_weekend_d",
        "CAST(n0 AS DOUBLE) AS n_weekday_d",
        "m1 - m0 AS mean_diff_cents",
        _WELCH_T,
        _WELCH_DF,
    )


# --------------------------------------------------------------------------
# Log-rank test: conversion survival, signup-first vs other-first cohorts
# --------------------------------------------------------------------------

_LOGRANK_TERMS = [
    "CAST(dk AS DOUBLE) * (CAST(n1k AS DOUBLE) / CAST(nk AS DOUBLE))"
    " AS e1_term",
    "CASE WHEN nk > 1 THEN"
    " CAST(dk AS DOUBLE) * (CAST(n1k AS DOUBLE) / CAST(nk AS DOUBLE))"
    " * (CAST(1 AS DOUBLE) - CAST(n1k AS DOUBLE) / CAST(nk AS DOUBLE))"
    " * (CAST(nk - dk AS DOUBLE) / CAST(nk - 1 AS DOUBLE))"
    " ELSE CAST(0 AS DOUBLE) END AS v_term",
]
_LOGRANK_Z = (
    "CASE WHEN v > CAST(0 AS DOUBLE)"
    " THEN (CAST(o1 AS DOUBLE) - e1) / sqrt(v) ELSE NULL END AS z_value"
)

_LOGRANK_ORACLE = f"""
    WITH first_seen AS (
      SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id),
    fid AS (
      SELECT e.user_id, min(e.event_id) AS fe
      FROM events e JOIN first_seen f
        ON e.user_id = f.user_id AND e.ts = f.t0
      GROUP BY e.user_id),
    cohort AS (
      SELECT fi.user_id,
             CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END AS g
      FROM fid fi JOIN events e ON e.event_id = fi.fe),
    first_buy AS (
      SELECT user_id, min(ts) AS tb FROM events
      WHERE event_type = 'purchase' GROUP BY user_id),
    lab AS (
      SELECT f.user_id, c.g,
             CASE WHEN b.tb IS NOT NULL AND
                  (epoch_us(date_trunc('hour', b.tb))
                   - epoch_us(date_trunc('hour', f.t0))) // 3600000000
                  <= 72
                  THEN (epoch_us(date_trunc('hour', b.tb))
                        - epoch_us(date_trunc('hour', f.t0))) // 3600000000
                  ELSE 72 END AS dur,
             CASE WHEN b.tb IS NOT NULL AND
                  (epoch_us(date_trunc('hour', b.tb))
                   - epoch_us(date_trunc('hour', f.t0))) // 3600000000
                  <= 72
                  THEN 1 ELSE 0 END AS ev
      FROM first_seen f
      JOIN cohort c ON c.user_id = f.user_id
      LEFT JOIN first_buy b ON b.user_id = f.user_id),
    gcell AS (
      SELECT dur, g, count(*) AS n_total, sum(ev) AS d FROM lab
      GROUP BY 1, 2),
    cell AS (
      SELECT c.dur,
             sum(c2.n_total) AS nk,
             sum(CASE WHEN c2.g = 1 THEN c2.n_total ELSE 0 END) AS n1k,
             sum(CASE WHEN c2.dur = c.dur THEN c2.d ELSE 0 END) AS dk,
             sum(CASE WHEN c2.dur = c.dur AND c2.g = 1 THEN c2.d ELSE 0 END)
               AS d1k
      FROM (SELECT DISTINCT dur FROM gcell) c
      JOIN gcell c2 ON c2.dur >= c.dur
      GROUP BY c.dur),
    terms AS (
      SELECT dur, d1k, {", ".join(_LOGRANK_TERMS)}
      FROM cell WHERE dk > 0),
    ls AS (
      SELECT list_sort(list(struct_pack(dur := dur, e1 := e1_term,
                                        v := v_term))) AS l,
             sum(d1k) AS o1
      FROM terms),
    zz AS (
      SELECT o1,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(l, x -> x.e1)), (a, b) -> a + b) AS e1,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(l, x -> x.v)), (a, b) -> a + b) AS v
      FROM ls)
    SELECT CAST(o1 AS DOUBLE) AS o1_d, e1, v, {_LOGRANK_Z}
    FROM zz
"""


@register("logrank_conversion_cohorts", _LOGRANK_ORACLE)
def q_logrank_conversion_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing conversion-survival between
    the signup-first and other-first user cohorts — the inferential
    companion to kaplan_meier_conversion's curve (did organic signups
    convert faster, beyond what censoring explains?). Cohort assignment
    is fully deterministic: first event = min (ts, event_id) resolved
    via the provably-unique event_id (the r7 non-unique-key lesson).
    Per duration cell the at-risk counts are bounded suffix sums
    (O(C^2) broadcast self-join over <= 73 x 2 group cells); the
    hypergeometric E/V terms are per-cell verbatim double chains on
    exact integers, and their sums fold over the SORTED cell list in a
    defined order (Spark F.aggregate, DuckDB list_reduce with prepended
    zero — the lang_budget fixed-order discipline, since the cell set
    is data-dependent). z = (O1 - E1)/sqrt(V). Non-degenerate at
    sf0.01: cohorts 20/130, O1 = 18, z = 0.47."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    fid = (
        ev.join(first_seen, "user_id")
        .filter(F.col("ts") == F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("event_id").alias("fe"))
    )
    cohort = fid.join(
        ev.select("event_id", "event_type"),
        fid.fe == F.col("event_id"),
    ).select(
        "user_id",
        F.when(F.col("event_type") == "signup", 1).otherwise(0).alias("g"),
    )
    first_buy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tb"))
    )
    hour_delta = (
        "(unix_micros(date_trunc('hour', tb))"
        " - unix_micros(date_trunc('hour', t0))) div 3600000000"
    )
    lab = (
        first_seen.join(cohort, "user_id")
        .join(first_buy, "user_id", "left")
        .selectExpr(
            "g",
            f"CASE WHEN tb IS NOT NULL AND {hour_delta} <= 72"
            f" THEN {hour_delta} ELSE 72 END AS dur",
            f"CASE WHEN tb IS NOT NULL AND {hour_delta} <= 72"
            " THEN 1 ELSE 0 END AS ev",
        )
    )
    gcell = lab.groupBy("dur", "g").agg(
        F.count(F.lit(1)).alias("n_total"), F.sum("ev").alias("d")
    )
    durs = gcell.select("dur").distinct()
    c2 = gcell.select(
        F.col("dur").alias("dur2"), F.col("g").alias("g2"),
        F.col("n_total").alias("nt2"), F.col("d").alias("d2"),
    )
    cell = (
        durs.join(F.broadcast(c2), F.col("dur2") >= F.col("dur"))
        .groupBy("dur")
        .agg(
            F.sum("nt2").alias("nk"),
            F.sum(F.expr("CASE WHEN g2 = 1 THEN nt2 ELSE 0 END")).alias(
                "n1k"
            ),
            F.sum(F.expr("CASE WHEN dur2 = dur THEN d2 ELSE 0 END")).alias(
                "dk"
            ),
            F.sum(
                F.expr("CASE WHEN dur2 = dur AND g2 = 1 THEN d2 ELSE 0 END")
            ).alias("d1k"),
        )
    )
    terms = cell.filter("dk > 0").selectExpr(
        "dur", "d1k", *_LOGRANK_TERMS
    )
    ls = terms.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("dur"),
                    F.col("e1_term").alias("e1"),
                    F.col("v_term").alias("v"),
                )
            )
        ).alias("l"),
        F.sum("d1k").alias("o1"),
    )
    zz = ls.selectExpr(
        "o1",
        "aggregate(transform(l, x -> x.e1), CAST(0 AS DOUBLE),"
        " (a, x) -> a + x) AS e1",
        "aggregate(transform(l, x -> x.v), CAST(0 AS DOUBLE),"
        " (a, x) -> a + x) AS v",
    )
    return zz.selectExpr(
        "CAST(o1 AS DOUBLE) AS o1_d", "e1", "v", _LOGRANK_Z
    )


# --------------------------------------------------------------------------
# word2vec negative-sampling table (unigram^(3/4) allocation)
# --------------------------------------------------------------------------

_NEGSAMPLE_ORACLE = r"""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    w AS (SELECT unnest(t) AS word FROM toks),
    c AS (SELECT word, count(*) AS n FROM w GROUP BY word),
    topv AS (
      SELECT word, n FROM c
      QUALIFY row_number() OVER (ORDER BY n DESC, word ASC) <= 1000),
    ls AS (
      SELECT list_sort(list(struct_pack(word := word,
               w := sqrt(CAST(n AS DOUBLE) * sqrt(CAST(n AS DOUBLE))))))
             AS l
      FROM topv),
    tot AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(l, x -> x.w)), (a, b) -> a + b) AS wt
      FROM ls)
    SELECT word, CAST(n AS DOUBLE) AS n_d,
           sqrt(CAST(n AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) AS w34,
           CAST(CAST(floor(CAST(1000000 AS DOUBLE)
                * sqrt(CAST(n AS DOUBLE) * sqrt(CAST(n AS DOUBLE)))
                / (SELECT wt FROM tot)) AS BIGINT) AS DOUBLE) AS alloc_d
    FROM topv
"""


@register("negative_sampling_table", _NEGSAMPLE_ORACLE)
def q_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table: each vocabulary word's slice
    of a 1M-slot sampling table proportional to count^(3/4) — the
    Mikolov smoothing that damps stopword dominance while keeping rare
    words reachable (the data-side companion to
    skipgram_training_pairs). The 3/4 power needs NO pow() (which the
    cross-engine float discipline forbids): n^(3/4) = sqrt(n * sqrt(n))
    — two correctly-rounded sqrts and one multiply, bit-identical on
    both engines (pinned in pytest against Python's pow). Vocabulary is
    truncated to the deterministic top-1000 by (count desc, word) —
    bounded at any corpus size, as word2vec tables are in practice —
    and the weight total folds over the SORTED word list in a defined
    order (the lang_budget discipline). Allocations floor to integer
    slots, so every emitted number is hash-stable."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens_col(F.col("text"))
    c = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    topv = c.orderBy(F.col("n").desc(), F.col("word").asc()).limit(1000)
    ls = topv.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("word"),
                    F.expr(
                        "sqrt(CAST(n AS DOUBLE) * sqrt(CAST(n AS DOUBLE)))"
                    ).alias("w"),
                )
            )
        ).alias("l")
    )
    tot = ls.selectExpr(
        "aggregate(transform(l, x -> x.w), CAST(0 AS DOUBLE),"
        " (a, x) -> a + x) AS wt"
    )
    return topv.crossJoin(F.broadcast(tot)).selectExpr(
        "word",
        "CAST(n AS DOUBLE) AS n_d",
        "sqrt(CAST(n AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) AS w34",
        "CAST(CAST(floor(CAST(1000000 AS DOUBLE)"
        " * sqrt(CAST(n AS DOUBLE) * sqrt(CAST(n AS DOUBLE)))"
        " / wt) AS BIGINT) AS DOUBLE) AS alloc_d",
    )


# --------------------------------------------------------------------------
# Cochran-Mantel-Haenszel stratified 2x2 association (7 literal strata)
# --------------------------------------------------------------------------

# Per-stratum 2x2 margins as exact integers; the CMH chi-square and the
# Mantel-Haenszel common odds ratio unroll over the SEVEN LITERAL
# weekday strata in fixed-order generated expression strings shared
# VERBATIM by both engines (the anova_value_by_type lesson: when the
# group set is literal, the whole chain can be one expression — no
# sorted-list fold needed). Each summand guards n_k > 1 for ANSI.
_CMH_K = range(7)
_CMH_NUM = " + ".join(
    f"(CASE WHEN n{k} > 1 THEN CAST(a{k} AS DOUBLE)"
    f" - CAST((a{k} + b{k}) * (a{k} + c{k}) AS DOUBLE) / CAST(n{k} AS DOUBLE)"
    f" ELSE CAST(0 AS DOUBLE) END)"
    for k in _CMH_K
)
_CMH_DEN = " + ".join(
    f"(CASE WHEN n{k} > 1 THEN"
    f" (CAST(a{k} + b{k} AS DOUBLE) / CAST(n{k} AS DOUBLE))"
    f" * CAST(c{k} + d{k} AS DOUBLE)"
    f" * (CAST(a{k} + c{k} AS DOUBLE) / CAST(n{k} AS DOUBLE))"
    f" * (CAST(b{k} + d{k} AS DOUBLE) / CAST(n{k} - 1 AS DOUBLE))"
    f" ELSE CAST(0 AS DOUBLE) END)"
    for k in _CMH_K
)
_CMH_ORN = " + ".join(
    f"(CASE WHEN n{k} > 1 THEN CAST(a{k} AS DOUBLE) * CAST(d{k} AS DOUBLE)"
    f" / CAST(n{k} AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)"
    for k in _CMH_K
)
_CMH_ORD = " + ".join(
    f"(CASE WHEN n{k} > 1 THEN CAST(b{k} AS DOUBLE) * CAST(c{k} AS DOUBLE)"
    f" / CAST(n{k} AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)"
    for k in _CMH_K
)
_CMH_NS = ", ".join(f"a{k} + b{k} + c{k} + d{k} AS n{k}" for k in _CMH_K)
_CMH_COLS = ", ".join(f"a{k}, b{k}, c{k}, d{k}" for k in _CMH_K)
_CMH_CHI2 = (
    "CASE WHEN den > CAST(0 AS DOUBLE) THEN num * num / den"
    " ELSE NULL END AS chi2_cmh"
)
_CMH_OR = (
    "CASE WHEN ord_ > CAST(0 AS DOUBLE) THEN orn / ord_"
    " ELSE NULL END AS or_mh"
)


def _cmh_sums(dow_expr: str) -> str:
    """The 28 conditional cell sums; dow_expr is the per-engine weekday
    expression normalized to 0 = Sunday."""
    return ", ".join(
        f"sum(CASE WHEN {dow_expr} = {k} AND l_discount > 0.05"
        f" AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS a{k}, "
        f"sum(CASE WHEN {dow_expr} = {k} AND l_discount > 0.05"
        f" AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS b{k}, "
        f"sum(CASE WHEN {dow_expr} = {k} AND l_discount <= 0.05"
        f" AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS c{k}, "
        f"sum(CASE WHEN {dow_expr} = {k} AND l_discount <= 0.05"
        f" AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS d{k}"
        for k in _CMH_K
    )


_CMH_ORACLE = f"""
    WITH s AS (SELECT {_cmh_sums("dayofweek(l_shipdate)")} FROM lineitem),
    t AS (SELECT {_CMH_COLS}, {_CMH_NS} FROM s),
    u AS (SELECT {_CMH_NUM} AS num, {_CMH_DEN} AS den,
                 {_CMH_ORN} AS orn, {_CMH_ORD} AS ord_,
                 {" + ".join(f"n{k}" for k in _CMH_K)} AS n_rows
          FROM t)
    SELECT CAST(n_rows AS DOUBLE) AS n_rows_d, {_CMH_CHI2}, {_CMH_OR}
    FROM u
"""


@register("cmh_discount_return_by_weekday", _CMH_ORACLE)
def q_cmh_discount_return_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test of the (deep discount -> return)
    association stratified by ship weekday — the confounder-adjusted
    2x2 test that belongs next to chi2/ab_test in any experimentation
    stack (does the discount-return link survive controlling for
    day-of-week mix?). One corpus scan produces the 28 exact integer
    cell margins (7 literal strata x 2x2, map-side conditional sums);
    the CMH chi-square (uncorrected) and the Mantel-Haenszel common
    odds ratio unroll over the literal strata in ONE fixed-order
    verbatim expression chain — every division is a correctly-rounded
    double op on exact integers, so the statistics hash-match
    cross-engine. The denominator's quartic product is grouped as
    ((a+b)/n)*(c+d)*((a+c)/n)*((b+d)/(n-1)) so it can never overflow
    at ANY scale (the BIGINT quartic would pass 1e38 at ~1000x).
    Weekday stated per engine (DuckDB dayofweek 0-based;
    Spark dayofweek - 1)."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.agg(
        *[
            F.expr(e)
            for e in _split_agg_exprs(
                _cmh_sums("(dayofweek(l_shipdate) - 1)")
            )
        ]
    )
    t = s.selectExpr(_CMH_COLS.split(", ") + _CMH_NS.split(", "))
    u = t.selectExpr(
        f"{_CMH_NUM} AS num",
        f"{_CMH_DEN} AS den",
        f"{_CMH_ORN} AS orn",
        f"{_CMH_ORD} AS ord_",
        f"{' + '.join(f'n{k}' for k in _CMH_K)} AS n_rows",
    )
    return u.selectExpr(
        "CAST(n_rows AS DOUBLE) AS n_rows_d", _CMH_CHI2, _CMH_OR
    )


def _split_agg_exprs(sums: str) -> list[str]:
    """Split the generated comma-joined aggregate list on the ', sum('
    boundaries (cell expressions contain commas only inside CASE—none—
    so a top-level split on ', sum' is exact)."""
    parts = sums.split(", sum(")
    out = [parts[0]]
    out.extend("sum(" + p for p in parts[1:])
    return out


# --------------------------------------------------------------------------
# Near-dup threshold sweep (dedup planning over the exact Jaccard pairs)
# --------------------------------------------------------------------------

def _threshold_sweep_oracle() -> str:
    pairs_sql = _REGISTRY["ngram_jaccard_pairs"].oracle
    cells = ", ".join(
        f"CAST(sum(CASE WHEN jaccard >= 0.{t} THEN 1 ELSE 0 END)"
        f" AS DOUBLE) AS pairs_{t}_d, "
        f"CAST(count(DISTINCT CASE WHEN jaccard >= 0.{t} THEN doc_b END)"
        f" AS DOUBLE) AS removed_{t}_d"
        for t in (5, 6, 7, 8, 9)
    )
    return f"""
    WITH p AS (SELECT doc_a, doc_b, jaccard FROM ({pairs_sql}) q)
    SELECT {cells} FROM p
    """


@register("dedup_threshold_sweep", _threshold_sweep_oracle())
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-policy planning table: for the literal Jaccard thresholds
    0.5-0.9, the surviving near-dup pair count and the number of
    documents a keep-lowest-id policy would drop (distinct greater-side
    docs) — the sweep a data engineer runs before committing a corpus
    dedup threshold at 100 TB. Composes the VERIFIED exact
    ngram_jaccard_pairs stage (same 6-dp-rounded coefficient, so the
    threshold comparisons are engine-stable) and reduces it in ONE
    aggregation with literal conditional cells — no threshold join, no
    re-scan per threshold; Spark's EXPAND handles the five distinct
    counts in one pass."""
    pairs = text.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))
    aggs = []
    for t in (5, 6, 7, 8, 9):
        aggs.append(
            F.expr(
                f"CAST(sum(CASE WHEN jaccard >= 0.{t} THEN 1 ELSE 0 END)"
                f" AS DOUBLE)"
            ).alias(f"pairs_{t}_d")
        )
        aggs.append(
            F.expr(
                f"CAST(count(DISTINCT CASE WHEN jaccard >= 0.{t}"
                f" THEN doc_b END) AS DOUBLE)"
            ).alias(f"removed_{t}_d")
        )
    return pairs.agg(*aggs)


# --------------------------------------------------------------------------
# Streaming twins: the two-sample tests maintained at ingest
# --------------------------------------------------------------------------

@register("streaming_mann_whitney_ingest", _MW_ORACLE)
def q_streaming_mann_whitney_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U maintained CONTINUOUSLY at ingest: the only
    stateful stage is the (cell, group) histogram — ONE complete-mode
    streaming aggregation whose state is bounded by distinct
    deci-quantized values regardless of stream length — drained via
    availableNow; the rank algebra, tie correction and z finish in
    batch over the bounded cell frame exactly as the batch query. The
    batch oracle applies verbatim because complete-mode counts are
    append-order invariant. The streaming drift monitor pairing:
    a live two-sample location test next to streaming_ks_ingest's
    distribution test."""
    from .q04_streamksql import _STREAM_SEQ, _replay_events

    stream = _replay_events(spark, sf_dir).filter(
        F.col("value").isNotNull()
    )
    hist = stream.groupBy(
        F.expr("CAST(floor(value * 10) AS BIGINT)").alias("s"),
        F.expr(
            "CASE WHEN dayofweek(ts) IN (1, 7) THEN 1 ELSE 0 END"
        ).alias("wk"),
    ).agg(F.count(F.lit(1)).alias("c"))
    drained = stream_sinks.run_to_memory(
        hist,
        f"reg_stream_mw_{next(_STREAM_SEQ)}",
        output_mode="complete",
    )
    cells = drained.groupBy("s").agg(
        F.sum(F.expr("CASE WHEN wk = 1 THEN c ELSE 0 END")).alias("n1c"),
        F.sum("c").alias("tc"),
    )
    c2 = cells.select(F.col("s").alias("s2"), F.col("tc").alias("tc2"))
    wb = (
        cells.join(F.broadcast(c2), F.col("s2") < F.col("s"), "left")
        .groupBy("s", "n1c", "tc")
        .agg(F.coalesce(F.sum("tc2"), F.lit(0)).alias("before"))
    )
    agg = wb.agg(
        F.sum("n1c").alias("n1"),
        F.sum(F.col("tc") - F.col("n1c")).alias("n0"),
        F.sum("tc").alias("n"),
        F.sum(
            F.col("n1c") * (2 * F.col("before") + F.col("tc") + 1)
        ).alias("ranksum2"),
        F.sum(
            F.expr("CAST(tc AS DECIMAL(38,0)) * tc * tc - tc")
        ).alias("tie3"),
    )
    u = agg.selectExpr(
        "n1", "n0", "n", "tie3",
        "ranksum2 - n1 * (n1 + 1) AS u2",
        f"{_MW_VARD} AS vard",
    )
    return u.selectExpr(
        "CAST(n1 AS DOUBLE) AS n_weekend_d",
        "CAST(n0 AS DOUBLE) AS n_weekday_d",
        "CAST(u2 AS DOUBLE) AS u2_d",
        f"{_MW_RB} AS rank_biserial",
        f"{_MW_Z} AS z_value",
    )


@register("streaming_welch_ingest", _WELCH_ORACLE)
def q_streaming_welch_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t maintained at ingest: the sufficient statistics are
    three additive sums per group (n, cent sum, squared-cent sum in
    DECIMAL(38,0)) — state is exactly TWO rows no matter the stream
    length; the verbatim Welch/Satterthwaite chains finish in batch on
    the drained 2-row frame. The batch oracle applies verbatim."""
    from .q04_streamksql import _STREAM_SEQ, _replay_events

    stream = _replay_events(spark, sf_dir).filter(
        F.col("value").isNotNull()
    )
    g = stream.groupBy(
        F.expr(
            "CASE WHEN dayofweek(ts) IN (1, 7) THEN 1 ELSE 0 END"
        ).alias("wk")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(CAST(floor(value * 100) AS BIGINT))").alias("sv"),
        F.expr(
            "sum(CAST(CAST(floor(value * 100) AS BIGINT)"
            " * CAST(floor(value * 100) AS BIGINT) AS DECIMAL(38,0)))"
        ).alias("svv"),
    )
    drained = stream_sinks.run_to_memory(
        g,
        f"reg_stream_welch_{next(_STREAM_SEQ)}",
        output_mode="complete",
    )
    p = drained.agg(
        F.expr("max(CASE WHEN wk = 1 THEN n END)").alias("n1"),
        F.expr("max(CASE WHEN wk = 0 THEN n END)").alias("n0"),
        F.expr("max(CASE WHEN wk = 1 THEN sv END)").alias("sv1"),
        F.expr("max(CASE WHEN wk = 0 THEN sv END)").alias("sv0"),
        F.expr("max(CASE WHEN wk = 1 THEN svv END)").alias("svv1"),
        F.expr("max(CASE WHEN wk = 0 THEN svv END)").alias("svv0"),
    )
    s1 = p.filter("n1 > 1 AND n0 > 1").selectExpr(
        "n1", "n0", *_WELCH_STAGE1
    )
    s2 = s1.selectExpr("n1", "n0", "m1", "m0", "s21", "s20", _WELCH_STAGE2)
    return s2.selectExpr(
        "CAST(n1 AS DOUBLE) AS n_weekend_d",
        "CAST(n0 AS DOUBLE) AS n_weekday_d",
        "m1 - m0 AS mean_diff_cents",
        _WELCH_T,
        _WELCH_DF,
    )


# --------------------------------------------------------------------------
# Wilcoxon signed-rank (paired per-user weekend vs weekday mean value)
# --------------------------------------------------------------------------

_WSR_NUM = (
    "CAST(w2 AS DOUBLE) / CAST(2 AS DOUBLE)"
    " - CAST(n * (n + 1) AS DOUBLE) / CAST(4 AS DOUBLE)"
)
_WSR_VAR = (
    "(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)"
    " * CAST(2 * n + 1 AS DOUBLE)) / CAST(24 AS DOUBLE)"
    " - CAST(tie3 AS DOUBLE) / CAST(48 AS DOUBLE)"
)
_WSR_Z = (
    "CASE WHEN vard > CAST(0 AS DOUBLE) THEN num / sqrt(vard)"
    " ELSE NULL END"
)

_WSR_ORACLE = f"""
    WITH d AS (
      SELECT user_id,
         sum(CASE WHEN dayofweek(ts) IN (0, 6)
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS ws,
         sum(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END) AS wc,
         sum(CASE WHEN dayofweek(ts) NOT IN (0, 6)
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS ys,
         sum(CASE WHEN dayofweek(ts) NOT IN (0, 6) THEN 1 ELSE 0 END) AS yc
      FROM events WHERE value IS NOT NULL GROUP BY user_id),
    p AS (
      SELECT (ws * 1000000) // wc - (ys * 1000000) // yc AS dppm
      FROM d WHERE wc > 0 AND yc > 0),
    q AS (
      SELECT abs(dppm) // 100000000 AS cell,
             CASE WHEN dppm > 0 THEN 1 ELSE 0 END AS pos
      FROM p WHERE dppm <> 0),
    cells AS (
      SELECT cell, sum(pos) AS pc, count(*) AS tc FROM q GROUP BY 1),
    wb AS (
      SELECT c.cell, c.pc, c.tc, coalesce(sum(c2.tc), 0) AS before
      FROM cells c LEFT JOIN cells c2 ON c2.cell < c.cell
      GROUP BY c.cell, c.pc, c.tc),
    agg AS (
      SELECT sum(tc) AS n, sum(pc) AS npos,
             sum(pc * (2 * before + tc + 1)) AS w2,
             sum(CAST(tc AS DECIMAL(38,0)) * tc * tc - tc) AS tie3
      FROM wb),
    u AS (
      SELECT n, npos, w2, tie3, {_WSR_NUM} AS num, {_WSR_VAR} AS vard
      FROM agg)
    SELECT CAST(n AS DOUBLE) AS n_pairs_d,
           CAST(npos AS DOUBLE) AS n_pos_d,
           CAST(w2 AS DOUBLE) AS w2_d,
           {_WSR_Z} AS z_value
    FROM u
"""


@register("wilcoxon_signed_rank_user_value", _WSR_ORACLE)
def q_wilcoxon_signed_rank_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test of the PAIRED per-user weekend-vs-
    weekday mean value difference — the within-subject companion to the
    unpaired Mann-Whitney/Welch tests (each user is their own control,
    so between-user spread cancels). Per user the mean difference is an
    exact integer in ppm-cents ((ws*1e6) div wc - (ys*1e6) div yc, both
    numerators positive so div == floor on both engines); zero
    differences are dropped (the standard Wilcoxon policy), signs split
    75/75 at sf0.01. |d| quantizes to dollar cells (bounded by the
    value range — 32 cells at sf0.01), and the doubled positive-rank
    sum W2 = 2W+ with average-rank ties computes by the same integer
    rank algebra as roc_auc/mann_whitney; tie term in DECIMAL(38,0);
    the normal approximation z uses the all-double product form of
    n(n+1)(2n+1)/24 so the variance cannot overflow at any scale."""
    ev = _t(spark, sf_dir, "events")
    d = ev.filter(F.col("value").isNotNull()).groupBy("user_id").agg(
        F.expr(
            "sum(CASE WHEN dayofweek(ts) IN (1, 7)"
            " THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)"
        ).alias("ws"),
        F.expr(
            "sum(CASE WHEN dayofweek(ts) IN (1, 7) THEN 1 ELSE 0 END)"
        ).alias("wc"),
        F.expr(
            "sum(CASE WHEN dayofweek(ts) NOT IN (1, 7)"
            " THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)"
        ).alias("ys"),
        F.expr(
            "sum(CASE WHEN dayofweek(ts) NOT IN (1, 7) THEN 1 ELSE 0 END)"
        ).alias("yc"),
    )
    p = d.filter("wc > 0 AND yc > 0").selectExpr(
        "(ws * 1000000L) div wc - (ys * 1000000L) div yc AS dppm"
    )
    q = p.filter("dppm <> 0").selectExpr(
        "abs(dppm) div 100000000L AS cell",
        "CASE WHEN dppm > 0 THEN 1 ELSE 0 END AS pos",
    )
    cells = q.groupBy("cell").agg(
        F.sum("pos").alias("pc"), F.count(F.lit(1)).alias("tc")
    )
    c2 = cells.select(F.col("cell").alias("cell2"), F.col("tc").alias("tc2"))
    wb = (
        cells.join(F.broadcast(c2), F.col("cell2") < F.col("cell"), "left")
        .groupBy("cell", "pc", "tc")
        .agg(F.coalesce(F.sum("tc2"), F.lit(0)).alias("before"))
    )
    agg = wb.agg(
        F.sum("tc").alias("n"),
        F.sum("pc").alias("npos"),
        F.sum(F.col("pc") * (2 * F.col("before") + F.col("tc") + 1)).alias(
            "w2"
        ),
        F.sum(F.expr("CAST(tc AS DECIMAL(38,0)) * tc * tc - tc")).alias(
            "tie3"
        ),
    )
    u = agg.selectExpr(
        "n", "npos", "w2", "tie3",
        f"{_WSR_NUM} AS num",
        f"{_WSR_VAR} AS vard",
    )
    return u.selectExpr(
        "CAST(n AS DOUBLE) AS n_pairs_d",
        "CAST(npos AS DOUBLE) AS n_pos_d",
        "CAST(w2 AS DOUBLE) AS w2_d",
        f"{_WSR_Z} AS z_value",
    )


# --------------------------------------------------------------------------
# McNemar paired-binary test (weekend vs weekday purchase per user)
# --------------------------------------------------------------------------

_MCNEMAR_ORACLE = """
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN dayofweek(ts) IN (0, 6)
                      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS w,
             max(CASE WHEN dayofweek(ts) NOT IN (0, 6)
                      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id),
    c AS (
      SELECT count(*) AS n,
             sum(CASE WHEN w = 1 AND y = 0 THEN 1 ELSE 0 END) AS b,
             sum(CASE WHEN w = 0 AND y = 1 THEN 1 ELSE 0 END) AS c,
             sum(CASE WHEN w = 1 AND y = 1 THEN 1 ELSE 0 END) AS wy
      FROM u)
    SELECT CAST(n AS DOUBLE) AS n_users_d,
           CAST(b AS DOUBLE) AS b_d,
           CAST(c AS DOUBLE) AS c_d,
           CAST(wy AS DOUBLE) AS both_d,
           CASE WHEN b + c > 0
                THEN CAST((b - c) * (b - c) AS DOUBLE)
                     / CAST(b + c AS DOUBLE)
                ELSE NULL END AS chi2_mcnemar
    FROM c
"""


@register("mcnemar_purchase_weekend", _MCNEMAR_ORACLE)
def q_mcnemar_purchase_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on the paired binary outcome (did the user
    purchase on a weekend? on a weekday?) — the discordant-pair test
    for marginal homogeneity that ab_test/chi2 cannot answer when the
    same user sits in both conditions. One scan to the per-user 2x2
    indicators, four exact integer cells, chi-square (uncorrected) as
    ONE correctly-rounded division — guarded for the all-concordant
    corpus under ANSI. Discordant counts 0/9 at sf0.01 (every
    weekend-purchaser also purchases on weekdays — the asymmetry IS
    the signal)."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.expr(
            "max(CASE WHEN dayofweek(ts) IN (1, 7)"
            " AND event_type = 'purchase' THEN 1 ELSE 0 END)"
        ).alias("w"),
        F.expr(
            "max(CASE WHEN dayofweek(ts) NOT IN (1, 7)"
            " AND event_type = 'purchase' THEN 1 ELSE 0 END)"
        ).alias("y"),
    )
    c = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(CASE WHEN w = 1 AND y = 0 THEN 1 ELSE 0 END)").alias(
            "b"
        ),
        F.expr("sum(CASE WHEN w = 0 AND y = 1 THEN 1 ELSE 0 END)").alias(
            "c"
        ),
        F.expr("sum(CASE WHEN w = 1 AND y = 1 THEN 1 ELSE 0 END)").alias(
            "wy"
        ),
    )
    return c.selectExpr(
        "CAST(n AS DOUBLE) AS n_users_d",
        "CAST(b AS DOUBLE) AS b_d",
        "CAST(c AS DOUBLE) AS c_d",
        "CAST(wy AS DOUBLE) AS both_d",
        "CASE WHEN b + c > 0 THEN CAST((b - c) * (b - c) AS DOUBLE)"
        " / CAST(b + c AS DOUBLE) ELSE NULL END AS chi2_mcnemar",
    )


# --------------------------------------------------------------------------
# Ablation grid: quality decile x dedup tier (training-data planning)
# --------------------------------------------------------------------------

def _ablation_grid_oracle() -> str:
    dq = _REGISTRY["doc_quality_score"].oracle
    dc = _REGISTRY["dedup_components"].oracle
    assert dq and dc
    return f"""
    WITH dq AS (SELECT doc_id, quality_score FROM ({dq}) q1),
    comp AS (SELECT doc_id, group_id, group_size FROM ({dc}) q2),
    base AS (
      SELECT d.doc_id, d.n_chars,
             CAST(floor(q.quality_score * 1000) AS BIGINT) AS qcell,
             CASE WHEN c.doc_id IS NULL THEN 'unique'
                  WHEN c.group_size = 1 THEN 'unique'
                  WHEN c.doc_id = c.group_id THEN 'dup_rep'
                  ELSE 'dup_member' END AS tier
      FROM documents d
      JOIN dq q ON q.doc_id = d.doc_id
      LEFT JOIN comp c ON c.doc_id = d.doc_id),
    tot AS (SELECT count(*) AS n FROM base),
    cells AS (SELECT qcell, count(*) AS t FROM base GROUP BY 1),
    rk AS (
      SELECT c.qcell, sum(c2.t) AS r_end
      FROM cells c JOIN cells c2 ON c2.qcell <= c.qcell
      GROUP BY c.qcell),
    dd AS (
      SELECT b.doc_id, b.n_chars, b.tier,
             ((r.r_end * 10 - 1) // (SELECT n FROM tot)) + 1 AS decile
      FROM base b JOIN rk r ON r.qcell = b.qcell)
    SELECT CAST(decile AS DOUBLE) AS decile_d, tier,
           CAST(count(*) AS DOUBLE) AS n_docs_d,
           CAST(sum(n_chars) AS DOUBLE) AS chars_d
    FROM dd GROUP BY 1, 2
    """


@register("ablation_grid_assignments", _ablation_grid_oracle())
def q_ablation_grid_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data ablation grid: every document assigned to a
    (quality decile x dedup tier) bucket — the planning table behind
    "train on top-k deciles, dedup policy X" ablations (doc and char
    budgets per bucket). Composes two VERIFIED stages: the multi-signal
    doc_quality_score (quantized to milli-unit cells — bounded ~1e3
    cells at any corpus size) and dedup_components (group_id is the
    component min id, so tier = unique / dup_rep / dup_member needs no
    extra pass; docs outside any near-dup component LEFT-JOIN to
    'unique'). Deciles by exact END-rank over the bounded quality-cell
    histogram (the gains_decile_lift idiom — ties stay together, no
    global sort); all counts integer-exact. Non-degenerate at sf0.01:
    27 grid cells, tiers 453/23/24."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    dq = _REGISTRY["doc_quality_score"].spark(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    comp = _REGISTRY["dedup_components"].spark(spark, sf_dir).select(
        F.col("doc_id").alias("c_doc_id"), "group_id", "group_size"
    )
    base = (
        docs.join(dq, "doc_id")
        .join(comp, F.col("c_doc_id") == F.col("doc_id"), "left")
        .selectExpr(
            "doc_id",
            "n_chars",
            "CAST(floor(quality_score * 1000) AS BIGINT) AS qcell",
            "CASE WHEN c_doc_id IS NULL THEN 'unique'"
            " WHEN group_size = 1 THEN 'unique'"
            " WHEN c_doc_id = group_id THEN 'dup_rep'"
            " ELSE 'dup_member' END AS tier",
        )
        .transform(sizing.materialize, "ablation grid assignments")
    )
    tot = base.agg(F.count(F.lit(1)).alias("n"))
    cells = base.groupBy("qcell").agg(F.count(F.lit(1)).alias("t"))
    c2 = cells.select(F.col("qcell").alias("q2"), F.col("t").alias("t2"))
    rk = (
        cells.join(F.broadcast(c2), F.col("q2") <= F.col("qcell"))
        .groupBy("qcell")
        .agg(F.sum("t2").alias("r_end"))
    )
    dd = (
        base.join(F.broadcast(rk), "qcell")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "n_chars", "tier",
            "((r_end * 10 - 1) div n) + 1 AS decile",
        )
    )
    return dd.groupBy("decile", "tier").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("n_chars").alias("ch")
    ).selectExpr(
        "CAST(decile AS DOUBLE) AS decile_d",
        "tier",
        "CAST(nd AS DOUBLE) AS n_docs_d",
        "CAST(ch AS DOUBLE) AS chars_d",
    )


# --------------------------------------------------------------------------
# Kruskal-Wallis H (k-group rank test across the five literal event types)
# --------------------------------------------------------------------------

_KW_TYPES = ("click", "view", "purchase", "signup", "error")
_KW_CELLCOLS = ", ".join(
    f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS n_{t}c"
    for t in _KW_TYPES
)
_KW_NJS = ", ".join(f"sum(n_{t}c) AS n_{t}" for t in _KW_TYPES)
_KW_R2S = ", ".join(
    f"sum(n_{t}c * (2 * before + tc + 1)) AS r2_{t}" for t in _KW_TYPES
)
_KW_SUMTERM = " + ".join(
    f"(CAST(r2_{t} AS DOUBLE) / CAST(2 AS DOUBLE))"
    f" * (CAST(r2_{t} AS DOUBLE) / CAST(2 AS DOUBLE))"
    f" / CAST(n_{t} AS DOUBLE)"
    for t in _KW_TYPES
)
_KW_H = (
    "CAST(12 AS DOUBLE) / (CAST(n AS DOUBLE)"
    " * (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)))"
    f" * ({_KW_SUMTERM})"
    " - CAST(3 AS DOUBLE) * (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE))"
)
_KW_CORR = (
    "CAST(1 AS DOUBLE) - CAST(tie3 AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " - CAST(n AS DOUBLE))"
)

_KW_IN = ", ".join(f"'{t}'" for t in _KW_TYPES)

_KW_ORACLE = f"""
    WITH t AS (
      SELECT CAST(floor(value * 10) AS BIGINT) AS s, event_type
      FROM events WHERE value IS NOT NULL
        AND event_type IN ({_KW_IN})),
    cells AS (
      SELECT s, {_KW_CELLCOLS}, count(*) AS tc FROM t GROUP BY 1),
    wb AS (
      SELECT c.s, {", ".join(f"c.n_{t}c" for t in _KW_TYPES)}, c.tc,
             coalesce(sum(c2.tc), 0) AS before
      FROM cells c LEFT JOIN cells c2 ON c2.s < c.s
      GROUP BY ALL),
    agg AS (
      SELECT sum(tc) AS n, {_KW_NJS}, {_KW_R2S},
             sum(CAST(tc AS DECIMAL(38,0)) * tc * tc - tc) AS tie3
      FROM wb),
    h AS (SELECT n, tie3, {_KW_H} AS h_raw FROM agg WHERE n > 1),
    c AS (SELECT n, h_raw, {_KW_CORR} AS corr FROM h)
    SELECT CAST(n AS DOUBLE) AS n_d, h_raw,
           CASE WHEN corr > CAST(0 AS DOUBLE) THEN h_raw / corr
                ELSE NULL END AS h_tiecorr
    FROM c
"""


@register("kruskal_wallis_value_by_type", _KW_ORACLE)
def q_kruskal_wallis_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of value across the five event types — the
    k-group rank test completing the nonparametric family (Mann-Whitney
    is its k=2 special case) and the distribution-free twin of
    anova_value_by_type on the same literal grouping. Doubled per-group
    rank-sums with average-rank ties over the bounded deci-quantized
    value-cell histogram (ONE prefix pass shared by all five groups —
    the cell row carries all five conditional counts); the H statistic
    and the tie-correction divisor unroll over the LITERAL types in one
    fixed-order verbatim chain (the anova lesson); tie term in
    DECIMAL(38,0); n^3 in the all-double product form so nothing
    overflows at any scale. Guarded for n <= 1 and corr <= 0 under
    ANSI. The base scan filters event_type IN (the five literals) on
    BOTH engines so an unseen sixth type can never silently inflate n
    and the rank prefix (ADVICE r11). Pinned against a plain-Python
    average-rank replay."""
    ev = _t(spark, sf_dir, "events")
    t = (
        ev.filter(F.col("value").isNotNull())
        .filter(F.col("event_type").isin(*_KW_TYPES))
        .select(
            F.expr("CAST(floor(value * 10) AS BIGINT)").alias("s"),
            "event_type",
        )
    )
    cells = t.groupBy("s").agg(
        *[
            F.expr(
                f"sum(CASE WHEN event_type = '{ty}' THEN 1 ELSE 0 END)"
            ).alias(f"n_{ty}c")
            for ty in _KW_TYPES
        ],
        F.count(F.lit(1)).alias("tc"),
    )
    c2 = cells.select(F.col("s").alias("s2"), F.col("tc").alias("tc2"))
    wb = (
        cells.join(F.broadcast(c2), F.col("s2") < F.col("s"), "left")
        .groupBy("s", *[f"n_{ty}c" for ty in _KW_TYPES], "tc")
        .agg(F.coalesce(F.sum("tc2"), F.lit(0)).alias("before"))
    )
    agg = wb.agg(
        F.sum("tc").alias("n"),
        *[F.expr(f"sum(n_{ty}c) AS n_{ty}") for ty in _KW_TYPES],
        *[
            F.expr(f"sum(n_{ty}c * (2 * before + tc + 1)) AS r2_{ty}")
            for ty in _KW_TYPES
        ],
        F.sum(F.expr("CAST(tc AS DECIMAL(38,0)) * tc * tc - tc")).alias(
            "tie3"
        ),
    )
    h = agg.filter("n > 1").selectExpr("n", "tie3", f"{_KW_H} AS h_raw")
    c = h.selectExpr("n", "h_raw", f"{_KW_CORR} AS corr")
    return c.selectExpr(
        "CAST(n AS DOUBLE) AS n_d",
        "h_raw",
        "CASE WHEN corr > CAST(0 AS DOUBLE) THEN h_raw / corr"
        " ELSE NULL END AS h_tiecorr",
    )


# --------------------------------------------------------------------------
# Friedman test (paired k-group: per-user ranks of the five type means)
# --------------------------------------------------------------------------

_FR_TYPES = ("click", "view", "purchase", "signup", "error")
_FR_MEANS = ", ".join(
    f"CASE WHEN sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) > 0"
    f" THEN (sum(CASE WHEN event_type = '{t}'"
    f" THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) * 1000000)"
    f" {{div}} sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
    f" END AS v_{t}"
    for t in _FR_TYPES
)
_FR_COMPLETE = " AND ".join(f"v_{t} IS NOT NULL" for t in _FR_TYPES)


def _fr_r2(t: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN v_{o} < v_{t} THEN 2 WHEN v_{o} = v_{t} THEN 1"
        f" ELSE 0 END)"
        for o in _FR_TYPES
        if o != t
    )
    return f"2 + {terms} AS r2_{t}"


def _fr_ej(t: str) -> str:
    return " + ".join(
        f"(CASE WHEN v_{o} = v_{t} THEN 1 ELSE 0 END)"
        for o in _FR_TYPES
        if o != t
    )


_FR_TIE3 = " + ".join(
    f"(({_fr_ej(t)}) * ({_fr_ej(t)}) + 2 * ({_fr_ej(t)}))" for t in _FR_TYPES
)
_FR_SUMR2 = " + ".join(
    f"(CAST(sr2_{t} AS DOUBLE) / CAST(2 AS DOUBLE))"
    f" * (CAST(sr2_{t} AS DOUBLE) / CAST(2 AS DOUBLE))"
    for t in _FR_TYPES
)
_FR_CHI2 = (
    f"CAST(12 AS DOUBLE) * ({_FR_SUMR2})"
    " / (CAST(n AS DOUBLE) * CAST(5 AS DOUBLE) * CAST(6 AS DOUBLE))"
    " - CAST(3 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(6 AS DOUBLE)"
)
_FR_CORR = (
    "CAST(1 AS DOUBLE) - CAST(tie3 AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(5 AS DOUBLE) * CAST(24 AS DOUBLE))"
)

_FRIEDMAN_ORACLE = f"""
    WITH u AS (
      SELECT user_id, {_FR_MEANS.format(div="//")}
      FROM events WHERE value IS NOT NULL GROUP BY user_id),
    cb AS (SELECT * FROM u WHERE {_FR_COMPLETE}),
    rk AS (SELECT {", ".join(_fr_r2(t) for t in _FR_TYPES)},
                  {_FR_TIE3} AS btie3
           FROM cb),
    agg AS (
      SELECT count(*) AS n,
             {", ".join(f"sum(r2_{t}) AS sr2_{t}" for t in _FR_TYPES)},
             sum(btie3) AS tie3
      FROM rk),
    h AS (SELECT n, tie3, {_FR_CHI2} AS chi2_raw, {_FR_CORR} AS corr
          FROM agg WHERE n > 0)
    SELECT CAST(n AS DOUBLE) AS n_blocks_d, chi2_raw,
           CASE WHEN corr > CAST(0 AS DOUBLE) THEN chi2_raw / corr
                ELSE NULL END AS chi2_tiecorr
    FROM h
"""


@register("friedman_value_by_type", _FRIEDMAN_ORACLE)
def q_friedman_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the PAIRED k-group member completing the test
    matrix (unpaired 2 = Mann-Whitney/Welch; paired 2 = Wilcoxon/
    McNemar; unpaired k = Kruskal-Wallis/ANOVA; paired k = Friedman):
    does a user's value level differ across event types once each user
    is their own block? Per user the five type means are exact integers
    in ppm-cents (positive numerators, div == floor both engines);
    blocks missing a type are excluded (complete-block design). The
    within-block ranks need NO window and NO sort: with five LITERAL
    treatments the doubled average rank is 2 + Σ(2·[v_i<v_j] +
    [v_i=v_j]) — a row-local unrolled comparison chain — and the
    per-block tie term Σ(t³−t) = Σ_j(e_j² + 2e_j) over equal-value
    counts, also row-local integers. Doubled rank-sums and the block
    count aggregate exactly; the chi-square and tie-correction divisor
    are verbatim double chains. One scan, one aggregation, zero
    shuffles beyond the user rollup."""
    ev = _t(spark, sf_dir, "events")
    means = _FR_MEANS.format(div="div")
    # entries all begin "CASE WHEN sum(" — split on that boundary (the
    # generic _split_agg_exprs splits on ", sum(", which occurs INSIDE
    # these CASE expressions)
    parts = means.split(", CASE WHEN sum(")
    mean_exprs = [parts[0]] + [
        "CASE WHEN sum(" + p for p in parts[1:]
    ]
    u = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(*[F.expr(e) for e in mean_exprs])
    )
    cb = u.filter(_FR_COMPLETE)
    rk = cb.selectExpr(
        *[_fr_r2(t) for t in _FR_TYPES], f"{_FR_TIE3} AS btie3"
    )
    agg = rk.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"sum(r2_{t}) AS sr2_{t}") for t in _FR_TYPES],
        F.sum("btie3").alias("tie3"),
    )
    h = agg.filter("n > 0").selectExpr(
        "n", "tie3", f"{_FR_CHI2} AS chi2_raw", f"{_FR_CORR} AS corr"
    )
    return h.selectExpr(
        "CAST(n AS DOUBLE) AS n_blocks_d",
        "chi2_raw",
        "CASE WHEN corr > CAST(0 AS DOUBLE) THEN chi2_raw / corr"
        " ELSE NULL END AS chi2_tiecorr",
    )


# --------------------------------------------------------------------------
# MASE: seasonal-naive forecast error ratio over daily revenue
# --------------------------------------------------------------------------

_MASE_CHAIN = (
    "CASE WHEN nae > 0 AND sn > 0 THEN"
    " (CAST(sae AS DOUBLE) / CAST(sn AS DOUBLE))"
    " / (CAST(nae AS DOUBLE) / CAST(nn AS DOUBLE))"
    " ELSE NULL END"
)

_MASE_ORACLE = f"""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1),
    s AS (
      SELECT sum(abs(a.cents - b.cents)) AS sae, count(*) AS sn
      FROM d a JOIN d b ON b.day = a.day - INTERVAL 7 DAY),
    n AS (
      SELECT sum(abs(a.cents - b.cents)) AS nae, count(*) AS nn
      FROM d a JOIN d b ON b.day = a.day - INTERVAL 1 DAY)
    SELECT CAST(sn AS DOUBLE) AS n_seasonal_d,
           CAST(nn AS DOUBLE) AS n_naive_d,
           CAST(sae AS DOUBLE) AS sae_cents_d,
           CAST(nae AS DOUBLE) AS nae_cents_d,
           {_MASE_CHAIN} AS mase
    FROM s CROSS JOIN n
"""


@register("mase_seasonal_naive", _MASE_ORACLE)
def q_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute scaled error) of the weekly seasonal-naive
    forecast of daily revenue — the scale-free benchmark METRIC that
    belongs next to the ses/holt/ar2 forecasters (mase < 1 means the
    seasonal forecast beats the one-step naive): both MAEs are exact
    BIGINT sums of |integer cent diffs|, lags resolved by calendar
    EQUI-joins on day - INTERVAL k DAY (no global-sort window, gaps
    excluded deterministically by the inner join), and the final ratio
    is a three-op verbatim double chain — the integer-ppm form would
    overflow BIGINT at ~100x, the double chain never does. Two 1-row
    frames cross-joined; the daily rollup is the only shuffle."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.expr("sum(CAST(floor(o_totalprice * 100) AS BIGINT))").alias(
            "cents"
        )
    )
    d2 = d.select(F.col("day").alias("day2"), F.col("cents").alias("cents2"))

    def mae(days: int):
        return (
            d.join(
                d2,
                F.expr(f"day2 = day - INTERVAL {days} DAY"),
            )
            .agg(
                F.sum(F.expr("abs(cents - cents2)")).alias("ae"),
                F.count(F.lit(1)).alias("cnt"),
            )
        )

    s = mae(7).selectExpr("ae AS sae", "cnt AS sn")
    n = mae(1).selectExpr("ae AS nae", "cnt AS nn")
    return s.crossJoin(n).selectExpr(
        "CAST(sn AS DOUBLE) AS n_seasonal_d",
        "CAST(nn AS DOUBLE) AS n_naive_d",
        "CAST(sae AS DOUBLE) AS sae_cents_d",
        "CAST(nae AS DOUBLE) AS nae_cents_d",
        f"{_MASE_CHAIN} AS mase",
    )


# --------------------------------------------------------------------------
# Brown-Forsythe (Levene-median) variance-homogeneity test across types
# --------------------------------------------------------------------------

from .q17_round11 import (  # noqa: E402
    _ANOVA_AGGS,
    _ANOVA_N,
    _ANOVA_S,
    _ANOVA_SSB,
    _ANOVA_SSW,
    _split_top_level,
)

_BF_ORACLE = f"""
    WITH t AS (
      SELECT event_type,
             CAST(floor(value * 100) AS BIGINT) AS c,
             CAST(floor(value * 10) AS BIGINT) AS d
      FROM events WHERE value IS NOT NULL),
    nt AS (SELECT event_type, count(*) AS n FROM t GROUP BY 1),
    dcells AS (
      SELECT event_type, d, count(*) AS tc FROM t GROUP BY 1, 2),
    dwb AS (
      SELECT dc.event_type, dc.d, dc.tc,
             coalesce(sum(d2.tc), 0) AS before
      FROM dcells dc LEFT JOIN dcells d2
        ON d2.event_type = dc.event_type AND d2.d < dc.d
      GROUP BY ALL),
    dmed AS (
      SELECT w.event_type, w.d AS dmed, w.before AS dbefore
      FROM dwb w JOIN nt ON nt.event_type = w.event_type
      WHERE 2 * w.before < nt.n AND 2 * (w.before + w.tc) >= nt.n),
    ccells AS (
      SELECT t.event_type, t.c, count(*) AS tc, min(m.dbefore) AS dbefore
      FROM t JOIN dmed m ON m.event_type = t.event_type AND t.d = m.dmed
      GROUP BY 1, 2),
    cwb AS (
      SELECT cc.event_type, cc.c, cc.tc, cc.dbefore,
             coalesce(sum(c2.tc), 0) AS cb
      FROM ccells cc LEFT JOIN ccells c2
        ON c2.event_type = cc.event_type AND c2.c < cc.c
      GROUP BY cc.event_type, cc.c, cc.tc, cc.dbefore),
    cmed AS (
      SELECT w.event_type, w.c AS medc
      FROM cwb w JOIN nt ON nt.event_type = w.event_type
      WHERE 2 * (w.dbefore + w.cb) < nt.n
        AND 2 * (w.dbefore + w.cb + w.tc) >= nt.n),
    base AS (
      SELECT t.event_type, abs(t.c - m.medc) AS y
      FROM t JOIN cmed m ON m.event_type = t.event_type),
    g AS (SELECT {_ANOVA_AGGS} FROM base),
    m AS (SELECT *, ({_ANOVA_N}) AS nn,
                 ({_ANOVA_S}) / ({_ANOVA_N}) AS gm FROM g),
    s AS (SELECT nn, ({_ANOVA_SSB}) AS ssb, ({_ANOVA_SSW}) AS ssw FROM m)
    SELECT CAST(nn AS DOUBLE) AS n_d, ssb AS ssb_d, ssw AS ssw_d,
           CASE WHEN ssw <= 0 OR nn <= 5 THEN NULL
                ELSE (ssb / 4.0) / (ssw / (nn - 5.0)) END AS f_d
    FROM s
"""


@register("brown_forsythe_value_by_type", _BF_ORACLE)
def q_brown_forsythe_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (the median variant of Levene's test) for
    variance homogeneity of value across the five event types — the
    DISPERSION companion to the location tests (ANOVA/Kruskal-Wallis
    answer 'do the centers differ?'; this answers 'do the spreads?',
    the assumption check before trusting the pooled-variance F). The
    center is the EXACT lower median of the centi-quantized values,
    located by pure integer cell math — a deci-cell histogram prefix
    (the O(C^2) broadcast self-join idiom, cells bounded by the value
    range) narrows to the median deci-cell, a second <=10-cell prefix
    inside it picks the exact centi median; the engine-neutral
    membership test ``2*before < n AND 2*(before+tc) >= n`` selects
    the lower-median cell with zero float ops, so the r11-ADVICE
    percentile/round boundary-fragility class is gone by construction.
    Deviations |c - medc| are exact centi-unit BIGINTs; the statistic
    IS the one-way ANOVA F on them, reusing the literal-unrolled
    verbatim chains of anova_value_by_type (shared generated strings,
    no new float paths)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    t = ev.selectExpr(
        "event_type",
        "CAST(floor(value * 100) AS BIGINT) AS c",
        "CAST(floor(value * 10) AS BIGINT) AS d",
    )
    nt = t.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    dcells = t.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("tc")
    )
    d2 = dcells.selectExpr(
        "event_type AS et2", "d AS dd2", "tc AS tc2"
    )
    dwb = (
        dcells.join(
            F.broadcast(d2),
            (F.col("et2") == F.col("event_type")) & (F.col("dd2") < F.col("d")),
            "left",
        )
        .groupBy("event_type", "d", "tc")
        .agg(F.coalesce(F.sum("tc2"), F.lit(0)).alias("before"))
    )
    dmed = (
        dwb.join(F.broadcast(nt), "event_type")
        .filter("2 * before < n AND 2 * (before + tc) >= n")
        .selectExpr("event_type", "d AS dmed", "before AS dbefore")
    )
    ccells = (
        t.join(
            F.broadcast(dmed),
            (t["event_type"] == dmed["event_type"]) & (t["d"] == dmed["dmed"]),
        )
        .drop(dmed["event_type"])
        .groupBy("event_type", "c")
        .agg(
            F.count(F.lit(1)).alias("tc"),
            F.min("dbefore").alias("dbefore"),
        )
    )
    c2 = ccells.selectExpr("event_type AS et2", "c AS cc2", "tc AS tc2")
    cwb = (
        ccells.join(
            F.broadcast(c2),
            (F.col("et2") == F.col("event_type")) & (F.col("cc2") < F.col("c")),
            "left",
        )
        .groupBy("event_type", "c", "tc", "dbefore")
        .agg(
            (
                F.col("dbefore") + F.coalesce(F.sum("tc2"), F.lit(0))
            ).alias("before")
        )
    )
    cmed = (
        cwb.join(F.broadcast(nt), "event_type")
        .filter("2 * before < n AND 2 * (before + tc) >= n")
        .selectExpr("event_type", "c AS medc")
    )
    base = t.join(F.broadcast(cmed), "event_type").selectExpr(
        "event_type", "abs(c - medc) AS y"
    )
    g = base.selectExpr(*[e.strip() for e in _split_top_level(_ANOVA_AGGS)])
    m = g.selectExpr(
        "*", f"({_ANOVA_N}) AS nn", f"({_ANOVA_S}) / ({_ANOVA_N}) AS gm"
    )
    s = m.selectExpr(
        "nn", f"({_ANOVA_SSB}) AS ssb", f"({_ANOVA_SSW}) AS ssw"
    )
    return s.selectExpr(
        "CAST(nn AS DOUBLE) AS n_d",
        "ssb AS ssb_d",
        "ssw AS ssw_d",
        "CASE WHEN ssw <= 0 OR nn <= 5 THEN NULL"
        " ELSE (ssb / 4.0) / (ssw / (nn - 5.0)) END AS f_d",
    )


# --------------------------------------------------------------------------
# Cronbach's alpha (internal consistency across the five type means)
# --------------------------------------------------------------------------

_CA_MOMS = ", ".join(
    f"sum(v_{t}) AS s_{t}, sum(CAST(v_{t} AS DECIMAL(38,0)) * v_{t})"
    f" AS q_{t}"
    for t in _FR_TYPES
)
_CA_SVARS = " + ".join(
    f"((CAST(q_{t} AS DOUBLE) - CAST(s_{t} AS DOUBLE)"
    f" * CAST(s_{t} AS DOUBLE) / CAST(n AS DOUBLE))"
    f" / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))"
    for t in _FR_TYPES
)
_CA_TSUM = " + ".join(f"v_{t}" for t in _FR_TYPES)
_CA_TOTVAR = (
    "(CAST(q_t AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE))"
)
_CA_ALPHA = (
    "CASE WHEN total_var > CAST(0 AS DOUBLE)"
    " THEN (CAST(5 AS DOUBLE) / CAST(4 AS DOUBLE))"
    " * (CAST(1 AS DOUBLE) - sum_item_var / total_var)"
    " ELSE NULL END"
)

_CRONBACH_ORACLE = f"""
    WITH u AS (
      SELECT user_id, {_FR_MEANS.format(div="//")}
      FROM events WHERE value IS NOT NULL GROUP BY user_id),
    cb AS (SELECT *, {_CA_TSUM} AS tt FROM u WHERE {_FR_COMPLETE}),
    agg AS (
      SELECT count(*) AS n, {_CA_MOMS}, sum(tt) AS s_t,
             sum(CAST(tt AS DECIMAL(38,0)) * tt) AS q_t
      FROM cb),
    a AS (
      SELECT n, ({_CA_SVARS}) AS sum_item_var, {_CA_TOTVAR} AS total_var
      FROM agg WHERE n > 1)
    SELECT CAST(n AS DOUBLE) AS n_blocks_d, sum_item_var, total_var,
           {_CA_ALPHA} AS cronbach_alpha
    FROM a
"""


@register("cronbach_alpha_type_values", _CRONBACH_ORACLE)
def q_cronbach_alpha_type_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the five per-user type-mean "items" — the
    internal-consistency reliability coefficient (does one latent
    engagement level drive a user's value across event types?), the
    scale-reliability companion to cohens_kappa_raters. Reuses the
    Friedman complete-block frame (exact ppm-cent means); item and
    total-score moments are exact (squares in DECIMAL(38,0) — the
    ppm-cent squares pass 1e21, far beyond BIGINT), and alpha =
    k/(k-1) * (1 - sum item variances / total variance) unrolls over
    the literal items in one verbatim chain. alpha = 0.138 at sf0.01 —
    near-independent items, as synthetic uniform values should be.
    One scan, one aggregation to a 13-column row."""
    ev = _t(spark, sf_dir, "events")
    means = _FR_MEANS.format(div="div")
    parts = means.split(", CASE WHEN sum(")
    mean_exprs = [parts[0]] + ["CASE WHEN sum(" + p for p in parts[1:]]
    u = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(*[F.expr(e) for e in mean_exprs])
    )
    cb = u.filter(_FR_COMPLETE).selectExpr("*", f"{_CA_TSUM} AS tt")
    agg = cb.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(e) for e in _split_top_level(_CA_MOMS)],
        F.sum("tt").alias("s_t"),
        F.expr("sum(CAST(tt AS DECIMAL(38,0)) * tt)").alias("q_t"),
    )
    a = agg.filter("n > 1").selectExpr(
        "n", f"({_CA_SVARS}) AS sum_item_var", f"{_CA_TOTVAR} AS total_var"
    )
    return a.selectExpr(
        "CAST(n AS DOUBLE) AS n_blocks_d",
        "sum_item_var",
        "total_var",
        f"{_CA_ALPHA} AS cronbach_alpha",
    )


# --------------------------------------------------------------------------
# Streaming Kruskal-Wallis ingest twin
# --------------------------------------------------------------------------

@register("streaming_kruskal_ingest", _KW_ORACLE)
def q_streaming_kruskal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis maintained at ingest — completing the streaming
    stats-test family (CUSUM, Mann-Whitney, Welch): the stateful stage
    is ONE complete-mode aggregation keyed by value cell carrying the
    five conditional type counts (state bounded by distinct cells at
    any stream length); the rank algebra and the literal-unrolled H
    chain finish in batch on the drained cell frame. Batch oracle
    verbatim — complete-mode counts are append-order invariant."""
    from .q04_streamksql import _STREAM_SEQ, _replay_events

    stream = _replay_events(spark, sf_dir).filter(
        F.col("value").isNotNull()
    ).filter(F.col("event_type").isin(*_KW_TYPES))
    cells_s = stream.groupBy(
        F.expr("CAST(floor(value * 10) AS BIGINT)").alias("s")
    ).agg(
        *[
            F.expr(
                f"sum(CASE WHEN event_type = '{ty}' THEN 1 ELSE 0 END)"
            ).alias(f"n_{ty}c")
            for ty in _KW_TYPES
        ],
        F.count(F.lit(1)).alias("tc"),
    )
    cells = stream_sinks.run_to_memory(
        cells_s,
        f"reg_stream_kw_{next(_STREAM_SEQ)}",
        output_mode="complete",
    )
    c2 = cells.select(F.col("s").alias("s2"), F.col("tc").alias("tc2"))
    wb = (
        cells.join(F.broadcast(c2), F.col("s2") < F.col("s"), "left")
        .groupBy("s", *[f"n_{ty}c" for ty in _KW_TYPES], "tc")
        .agg(F.coalesce(F.sum("tc2"), F.lit(0)).alias("before"))
    )
    agg = wb.agg(
        F.sum("tc").alias("n"),
        *[F.expr(f"sum(n_{ty}c) AS n_{ty}") for ty in _KW_TYPES],
        *[
            F.expr(f"sum(n_{ty}c * (2 * before + tc + 1)) AS r2_{ty}")
            for ty in _KW_TYPES
        ],
        F.sum(F.expr("CAST(tc AS DECIMAL(38,0)) * tc * tc - tc")).alias(
            "tie3"
        ),
    )
    h = agg.filter("n > 1").selectExpr("n", "tie3", f"{_KW_H} AS h_raw")
    c = h.selectExpr("n", "h_raw", f"{_KW_CORR} AS corr")
    return c.selectExpr(
        "CAST(n AS DOUBLE) AS n_d",
        "h_raw",
        "CASE WHEN corr > CAST(0 AS DOUBLE) THEN h_raw / corr"
        " ELSE NULL END AS h_tiecorr",
    )


# --------------------------------------------------------------------------
# Cramér's V effect size for the type x weekday contingency table
# --------------------------------------------------------------------------

def _cramers_v_oracle() -> str:
    chi2 = _REGISTRY["chi2_type_weekday"].oracle
    assert chi2
    return f"""
    WITH p AS (SELECT event_type, wk_d, o_d, chi2_term FROM ({chi2}) q),
    ls AS (
      SELECT list_sort(list(struct_pack(et := event_type, wk := wk_d,
               term := chi2_term))) AS l,
             sum(CAST(o_d AS BIGINT)) AS n
      FROM p),
    s AS (
      SELECT n,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(l, x -> x.term)), (a, b) -> a + b) AS chi2
      FROM ls)
    SELECT CAST(n AS DOUBLE) AS n_d, chi2 AS chi2_d,
           CASE WHEN n > 0 THEN sqrt(chi2 / CAST(n AS DOUBLE))
                ELSE NULL END AS cramers_v
    FROM s
    """


@register("cramers_v_type_weekday", _cramers_v_oracle())
def q_cramers_v_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event-type x weekend association
    — the magnitude the raw chi-square can't convey (chi2 grows with n;
    V in [0,1] doesn't). Composes the VERIFIED chi2_type_weekday cell
    table; the 10 per-cell double terms sum in a DEFINED order (sorted-
    struct fold — a groupBy double-sum would be partition-ordered and
    drift in the last ulp), the observed counts sum exactly as
    integers, and V = sqrt(chi2 / (n * min(r-1, c-1))) with
    min(4, 1) = 1 for this 5x2 table. One bounded 10-row reduction
    after the contingency rollup."""
    p = _REGISTRY["chi2_type_weekday"].spark(spark, sf_dir).select(
        "event_type", "wk_d", "o_d", "chi2_term"
    )
    ls = p.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("event_type").alias("et"),
                    F.col("wk_d").alias("wk"),
                    F.col("chi2_term").alias("term"),
                )
            )
        ).alias("l"),
        F.sum(F.expr("CAST(o_d AS BIGINT)")).alias("n"),
    )
    s = ls.selectExpr(
        "n",
        "aggregate(transform(l, x -> x.term), CAST(0 AS DOUBLE),"
        " (a, x) -> a + x) AS chi2",
    )
    return s.selectExpr(
        "CAST(n AS DOUBLE) AS n_d",
        "chi2 AS chi2_d",
        "CASE WHEN n > 0 THEN sqrt(chi2 / CAST(n AS DOUBLE))"
        " ELSE NULL END AS cramers_v",
    )


# --------------------------------------------------------------------------
# Kaplan-Meier with Greenwood standard errors and normal CIs
# --------------------------------------------------------------------------

_KMG_SE = (
    "survival * sqrt(gw)"
)
_KMG_LO = (
    "greatest(CAST(0 AS DOUBLE),"
    " survival - CAST(1.96 AS DOUBLE) * (survival * sqrt(gw)))"
)
_KMG_HI = (
    "least(CAST(1 AS DOUBLE),"
    " survival + CAST(1.96 AS DOUBLE) * (survival * sqrt(gw)))"
)

_KM_GREENWOOD_ORACLE = f"""
    WITH first_seen AS (
      SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id),
    first_buy AS (
      SELECT user_id, min(ts) AS tb FROM events
      WHERE event_type = 'purchase' GROUP BY user_id),
    lab AS (
      SELECT f.user_id,
             CASE WHEN b.tb IS NOT NULL AND
                  (epoch_us(date_trunc('hour', b.tb))
                   - epoch_us(date_trunc('hour', f.t0))) // 3600000000
                  <= 72
                  THEN (epoch_us(date_trunc('hour', b.tb))
                        - epoch_us(date_trunc('hour', f.t0))) // 3600000000
                  ELSE 72 END AS dur,
             CASE WHEN b.tb IS NOT NULL AND
                  (epoch_us(date_trunc('hour', b.tb))
                   - epoch_us(date_trunc('hour', f.t0))) // 3600000000
                  <= 72
                  THEN 1 ELSE 0 END AS ev
      FROM first_seen f LEFT JOIN first_buy b USING (user_id)),
    g AS (SELECT dur, count(*) AS n_total, sum(ev) AS d FROM lab
          GROUP BY dur),
    r AS (
      SELECT g.dur, g.d, sum(g2.n_total) AS n_risk
      FROM g JOIN g g2 ON g2.dur >= g.dur
      GROUP BY g.dur, g.d),
    ls AS (
      SELECT list_sort(list(struct_pack(dur := dur,
               f := CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE),
               gt := CASE WHEN n_risk > d THEN CAST(d AS DOUBLE)
                          / (CAST(n_risk AS DOUBLE)
                             * CAST(n_risk - d AS DOUBLE))
                     ELSE CAST(0 AS DOUBLE) END))) AS l
      FROM r),
    curve AS (
      SELECT r.dur, r.d, r.n_risk,
             list_reduce(list_prepend(CAST(1 AS DOUBLE),
               list_transform(list_filter((SELECT l FROM ls),
                 x -> x.dur <= r.dur), x -> x.f)),
               (a, b) -> a * b) AS survival,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_filter((SELECT l FROM ls),
                 x -> x.dur <= r.dur), x -> x.gt)),
               (a, b) -> a + b) AS gw
      FROM r)
    SELECT CAST(dur AS DOUBLE) AS dur_d,
           CAST(n_risk AS DOUBLE) AS n_risk_d,
           CAST(d AS DOUBLE) AS d_conv_d,
           survival,
           {_KMG_SE} AS se_greenwood,
           {_KMG_LO} AS ci_lo,
           {_KMG_HI} AS ci_hi
    FROM curve
"""


@register("kaplan_meier_greenwood", _KM_GREENWOOD_ORACLE)
def q_kaplan_meier_greenwood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KM conversion curve WITH uncertainty: Greenwood's variance
    Var[S(t)] = S(t)^2 * sum_{dur<=t} d/(n(n-d)) rides a prefix SUM
    fold over the same sorted bounded cell list as the survival
    PRODUCT fold — both folds bit-identical cross-engine (each term is
    a fixed chain of correctly-rounded ops; left-fold order shared),
    so the standard errors and the clipped 95% normal CIs hash-match
    exactly. The exhausted-risk-set edge (n == d at the last cell,
    where S = 0) contributes a guarded zero term, the lifelines
    convention. Same one-scan shape as kaplan_meier_conversion."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    first_buy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tb"))
    )
    hour_delta = (
        "(unix_micros(date_trunc('hour', tb))"
        " - unix_micros(date_trunc('hour', t0))) div 3600000000"
    )
    lab = first_seen.join(first_buy, "user_id", "left").selectExpr(
        f"CASE WHEN tb IS NOT NULL AND {hour_delta} <= 72"
        f" THEN {hour_delta} ELSE 72 END AS dur",
        f"CASE WHEN tb IS NOT NULL AND {hour_delta} <= 72"
        " THEN 1 ELSE 0 END AS ev",
    )
    g = lab.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_total"), F.sum("ev").alias("d")
    )
    g2 = g.select(F.col("dur").alias("dur2"), F.col("n_total").alias("nt2"))
    r = (
        g.join(F.broadcast(g2), F.col("dur2") >= F.col("dur"))
        .groupBy("dur", "d")
        .agg(F.sum("nt2").alias("n_risk"))
    )
    ls = r.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("dur"),
                    (
                        (F.col("n_risk") - F.col("d")).cast("double")
                        / F.col("n_risk").cast("double")
                    ).alias("f"),
                    F.expr(
                        "CASE WHEN n_risk > d THEN CAST(d AS DOUBLE)"
                        " / (CAST(n_risk AS DOUBLE)"
                        " * CAST(n_risk - d AS DOUBLE))"
                        " ELSE CAST(0 AS DOUBLE) END"
                    ).alias("gt"),
                )
            )
        ).alias("l")
    )
    curve = r.crossJoin(F.broadcast(ls)).selectExpr(
        "dur",
        "d",
        "n_risk",
        "aggregate(filter(l, x -> x.dur <= dur),"
        " CAST(1 AS DOUBLE), (a, x) -> a * x.f) AS survival",
        "aggregate(filter(l, x -> x.dur <= dur),"
        " CAST(0 AS DOUBLE), (a, x) -> a + x.gt) AS gw",
    )
    return curve.selectExpr(
        "CAST(dur AS DOUBLE) AS dur_d",
        "CAST(n_risk AS DOUBLE) AS n_risk_d",
        "CAST(d AS DOUBLE) AS d_conv_d",
        "survival",
        f"{_KMG_SE} AS se_greenwood",
        f"{_KMG_LO} AS ci_lo",
        f"{_KMG_HI} AS ci_hi",
    )

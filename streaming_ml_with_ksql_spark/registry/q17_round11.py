"""Round-11 registry wave: sequential-change detection, inter-rater
agreement, n-gram novelty scoring, blocked edit-distance record linkage,
and an exact-integer in-engine HyperLogLog estimator.

Discipline as established: every arithmetic path that must hash-match
cross-engine is BIGINT (micro/centi units, two-step divisions, shifts);
float division appears only as a final correctly-rounded op on exact
integer operands. All five queries carry exact DuckDB oracles.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401

# --------------------------------------------------------------------------
# CUSUM change detection over the daily revenue series
# --------------------------------------------------------------------------

_CUSUM_ORACLE = """
    WITH d AS MATERIALIZED (
      SELECT date_trunc('day', o_orderdate) AS day,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1),
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


@register("cusum_daily_revenue", _CUSUM_ORACLE)
def q_cusum_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point statistic (Page 1954) over daily
    order revenue in integer cents: S_k = max(0, S_{k-1} + x_k - target)
    with target = the global daily mean (floored). Computed CLOSED-FORM
    via the prefix identity S_k = P_k - min(0, min_{j<=k} P_j) where
    P_k = sum_{i<=k}(x_i - target) — no iteration, no window-on-
    SinglePartition (the r6 RFM lesson): both prefix reductions run as
    the documented calendar-bounded broadcast self-join idiom (O(C^2)
    on <= ~3.7k day rows per decade, data-size-independent after the
    one daily groupBy). All arithmetic BIGINT — the series hash-matches
    cross-engine exactly; a sustained revenue upshift shows as a rising
    cusum_cents run (2325 of 2399 days positive at sf0.01). Complements
    q09's cusum_changepoints (two-sided |CUSUM| argmax of the daily
    COUNT series per event type) with the classic one-sided Page
    statistic over the revenue series itself."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.expr("sum(CAST(floor(o_totalprice * 100) AS BIGINT))").alias(
            "cents"
        )
    )
    t = d.agg(F.expr("sum(cents) div count(*)").alias("target"))
    d2 = d.select(F.col("day").alias("day2"), F.col("cents").alias("cents2"))
    p = (
        d.join(F.broadcast(d2), F.col("day2") <= F.col("day"))
        .crossJoin(F.broadcast(t))
        .groupBy("day", "cents")
        .agg(
            (
                F.sum("cents2") - F.count(F.lit(1)) * F.first("target")
            ).alias("pref")
        )
    )
    p2 = p.select(F.col("day").alias("day2"), F.col("pref").alias("pref2"))
    s = (
        p.join(F.broadcast(p2), F.col("day2") <= F.col("day"))
        .groupBy("day", "cents", "pref")
        .agg(
            (
                F.col("pref") - F.least(F.lit(0), F.min("pref2"))
            ).alias("cusum")
        )
    )
    return s.select(
        "day",
        F.col("cents").cast("double").alias("cents_d"),
        F.col("cusum").cast("double").alias("cusum_cents_d"),
    )


# --------------------------------------------------------------------------
# Cohen's kappa inter-rater agreement
# --------------------------------------------------------------------------

_KAPPA_ORACLE = """
    WITH base AS (
      SELECT CASE WHEN value > 250 THEN 1 ELSE 0 END AS ra,
             CASE WHEN extract(hour FROM ts) >= 12 THEN 1 ELSE 0 END AS rb
      FROM events WHERE value IS NOT NULL),
    c AS (
      SELECT count(*) AS n,
             sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS n11,
             sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS n00,
             sum(ra) AS na1, sum(rb) AS nb1
      FROM base),
    k AS (
      SELECT n,
             CASE WHEN n = 0 THEN NULL
                  ELSE ((n11 + n00) * 1000000) // n END AS po_ppm,
             CASE WHEN n = 0 THEN NULL
                  ELSE (((na1 * 1000000) // n) * nb1) // n
                     + ((((n - na1) * 1000000) // n) * (n - nb1)) // n
             END AS pe_ppm
      FROM c)
    SELECT CAST(n AS DOUBLE) AS n_d,
           CAST(po_ppm AS DOUBLE) AS po_ppm_d,
           CAST(pe_ppm AS DOUBLE) AS pe_ppm_d,
           CASE WHEN pe_ppm IS NULL OR pe_ppm = 1000000 THEN NULL
                ELSE CAST(po_ppm - pe_ppm AS DOUBLE)
                   / CAST(1000000 - pe_ppm AS DOUBLE) END AS kappa_d
    FROM k
"""


@register("cohens_kappa_raters", _KAPPA_ORACLE)
def q_cohens_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between two deterministic binary
    raters on events — rater A: value > 250, rater B: afternoon hour —
    the label-quality agreement check an annotation pipeline runs
    before trusting weak labels. Observed and chance agreement are
    two-step integer ppm (the overflow-safe association-rules division
    order: scale by 1e6 BEFORE the second count multiplies in, so every
    intermediate stays <= n*1e6 at any SF); kappa itself is ONE double
    division of exact integer operands — correctly rounded identically
    on both engines, no log/pow. ANSI guards: n = 0 and pe = 1e6 both
    CASE to NULL on both sides (r7 ab_test_lift lesson). Scale shape:
    one map-side-combined aggregation to a single row."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        F.when(F.col("value") > 250, 1).otherwise(0).alias("ra"),
        F.when(F.hour("ts") >= 12, 1).otherwise(0).alias("rb"),
    )
    c = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0)
        ).alias("n11"),
        F.sum(
            F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0)
        ).alias("n00"),
        F.sum("ra").alias("na1"),
        F.sum("rb").alias("nb1"),
    )
    k = c.selectExpr(
        "n",
        "CASE WHEN n = 0 THEN NULL"
        " ELSE ((n11 + n00) * 1000000L) div n END AS po_ppm",
        "CASE WHEN n = 0 THEN NULL"
        " ELSE (((na1 * 1000000L) div n) * nb1) div n"
        "    + ((((n - na1) * 1000000L) div n) * (n - nb1)) div n"
        " END AS pe_ppm",
    )
    return k.selectExpr(
        "CAST(n AS DOUBLE) AS n_d",
        "CAST(po_ppm AS DOUBLE) AS po_ppm_d",
        "CAST(pe_ppm AS DOUBLE) AS pe_ppm_d",
        "CASE WHEN pe_ppm IS NULL OR pe_ppm = 1000000 THEN NULL"
        " ELSE CAST(po_ppm - pe_ppm AS DOUBLE)"
        "    / CAST(1000000 - pe_ppm AS DOUBLE) END AS kappa_d",
    )


# --------------------------------------------------------------------------
# Per-document n-gram novelty (training-data freshness signal)
# --------------------------------------------------------------------------

_NOVELTY_ORACLE = r"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    bg AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(t)), i -> t[i] || ' ' || t[i + 1]))) AS b
      FROM d WHERE len(t) >= 2),
    df AS MATERIALIZED (SELECT b, count(*) AS df FROM bg GROUP BY 1),
    per AS (
      SELECT bg.doc_id, count(*) AS n_bi,
             sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_novel
      FROM bg JOIN df USING (b) GROUP BY 1)
    SELECT doc_id, CAST(n_bi AS DOUBLE) AS n_bigrams_d,
           CAST(n_novel AS DOUBLE) AS n_novel_d,
           CAST((n_novel * 1000000) // n_bi AS DOUBLE) AS novelty_ppm_d
    FROM per
"""


@register("ngram_novelty_ppm", _NOVELTY_ORACLE)
def q_ngram_novelty_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the share of a doc's DISTINCT word
    bigrams that occur in NO other document (corpus df = 1), in integer
    ppm: the "does this document add anything new" dedup-adjacent
    curation signal (self-BLEU's numerator without the log-precision
    chain — rational, so exactly hashable). Uses the heaps_vocab_growth
    bigram construction verbatim (text.shingles(t, 2) == the oracle's
    indexed list_transform). Scale shape: one explode + one bigram-keyed
    groupBy for df, one co-keyed join back, one doc-keyed aggregation —
    all map-side-combinable; n_bi >= 1 by the len >= 2 filter, so the
    ppm division needs no zero guard."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens_col(F.col("text"))
    d = docs.select("doc_id", toks.alias("t")).filter(F.size("t") >= 2)
    bg = d.select(
        "doc_id",
        F.explode(F.array_distinct(text.shingles(F.col("t"), 2))).alias(
            "b"
        ),
    )
    df = bg.groupBy("b").agg(F.count(F.lit(1)).alias("df"))
    per = (
        bg.join(df, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bi"),
            F.sum(
                F.when(F.col("df") == 1, 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_bi").cast("double").alias("n_bigrams_d"),
        F.col("n_novel").cast("double").alias("n_novel_d"),
        F.expr("CAST((n_novel * 1000000L) div n_bi AS DOUBLE)").alias(
            "novelty_ppm_d"
        ),
    )


# --------------------------------------------------------------------------
# Blocked edit-distance record linkage over collapsed distinct names
# --------------------------------------------------------------------------

_LEV_ORACLE = """
    WITH names AS MATERIALIZED (
      SELECT p_name, min(p_partkey) AS rep_key, count(*) AS m
      FROM part GROUP BY 1),
    pairs AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             levenshtein(a.p_name, b.p_name) AS dist,
             a.m * b.m AS mult
      FROM names a JOIN names b
        ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
       AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 4)
    SELECT name_a, name_b, CAST(dist AS DOUBLE) AS dist_d,
           CAST(mult AS DOUBLE) AS pair_mult_d
    FROM pairs
"""


@register("name_edit_near_dup_pairs", _LEV_ORACLE)
def q_name_edit_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage by blocked edit distance (Fellegi-Sunter blocking
    + Levenshtein comparison — the classic entity-resolution pipeline):
    product-name variants within the same noun block at edit distance
    <= 4 ("hot bolt" ~ "old bolt"). Both engines ship the identical
    classic Levenshtein builtin, so distances are exact integers. The
    scale move is the r8 duplicate-collapse idiom with WEIGHTS:
    bit-identical names collapse to (min-key rep, multiplicity m)
    BEFORE any pairwise stage — the distinct-name table is bounded by
    the name VOCABULARY (64 at sf0.01, data-size-independent), the
    O(block^2) comparison runs on that bounded frame as a broadcast
    equi-join on the block key, and raw-pair counts are recovered
    exactly as m_a * m_b. At 100x replication the pair stage does not
    grow at all."""
    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(
        F.min("p_partkey").alias("rep_key"),
        F.count(F.lit(1)).alias("m"),
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("blk_a"),
        F.col("m").alias("m_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("blk_b"),
        F.col("m").alias("m_b"),
    )
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 4)
    )
    return pairs.select(
        "name_a",
        "name_b",
        F.col("dist").cast("double").alias("dist_d"),
        (F.col("m_a") * F.col("m_b")).cast("double").alias("pair_mult_d"),
    )


# --------------------------------------------------------------------------
# Exact-integer in-engine HyperLogLog estimate (per-type user-days)
# --------------------------------------------------------------------------

# alpha_256 * m^2 in centi-units: floor(0.7213 / (1 + 1.079/256) * 256^2
# * 100) — ONE integer literal shared verbatim by both engines, so the
# estimator is pure BIGINT. Structural overflow bound: ALPHA * 2^40 =
# 4,707,271 * 1,099,511,627,776 ~= 5.18e18 < 2^63-1, independent of data.
_HLL_ALPHA_M2_C = 4707271

_HLL_EST_ORACLE = f"""
    WITH h AS (
      SELECT event_type,
             md5(CAST(user_id AS VARCHAR) || '|'
                 || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR))
               AS hx
      FROM events WHERE user_id IS NOT NULL),
    b AS (
      SELECT event_type,
             CAST((strpos('0123456789abcdef', hx[1:1]) - 1) * 16
                  + (strpos('0123456789abcdef', hx[2:2]) - 1) AS INT)
               AS bucket,
             hx[3:32] AS rest
      FROM h),
    r AS (
      SELECT event_type, bucket, ltrim(rest, '0') AS stripped,
             len(rest) - len(ltrim(rest, '0')) AS nz
      FROM b),
    v AS (
      SELECT event_type, bucket,
             CASE WHEN stripped = '' THEN 121
                  ELSE 4 * nz + (4 - CASE
                    WHEN strpos('0123456789abcdef', stripped[1:1]) - 1 >= 8
                      THEN 4
                    WHEN strpos('0123456789abcdef', stripped[1:1]) - 1 >= 4
                      THEN 3
                    WHEN strpos('0123456789abcdef', stripped[1:1]) - 1 >= 2
                      THEN 2
                    ELSE 1 END) + 1
             END AS rho
      FROM r),
    regs AS MATERIALIZED (
      SELECT event_type, bucket,
             least(CAST(max(rho) AS BIGINT), 40) AS reg
      FROM v GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             sum(1::BIGINT << (40 - reg))
               + (256 - count(*)) * (1::BIGINT << 40) AS sdenom
      FROM regs GROUP BY 1),
    ex AS (
      SELECT event_type,
             count(DISTINCT user_id || '|'
                   || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR))
               AS exact_ud
      FROM events WHERE user_id IS NOT NULL GROUP BY 1)
    SELECT s.event_type,
           CAST(({_HLL_ALPHA_M2_C}::BIGINT * (1::BIGINT << 40)) // s.sdenom
                AS DOUBLE) AS est_centi_user_days_d,
           CAST(ex.exact_ud AS DOUBLE) AS exact_user_days_d
    FROM s JOIN ex ON ex.event_type = s.event_type
"""


@register("hll_user_days_estimate", _HLL_EST_ORACLE)
def q_hll_user_days_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine HyperLogLog ESTIMATE (Flajolet et al. 2007) of distinct
    (user, day) pairs per event type — the estimator companion to
    streaming_hll_registers' register table, made exactly oracle-able:
    the harmonic-mean denominator sum_b 2^-rho_b is rescaled by 2^40
    into pure BIGINT shifts (registers capped at 40 — beyond that a
    256-register sketch's raw estimate is astronomically past any real
    cardinality), and alpha*m^2 enters as one shared integer
    centi-literal, so estimate = (ALPHA << 40) div S is exact integer
    division on both engines. Raw estimator only — the small-range
    linear-counting correction needs ln(), which is not cross-engine
    exact; at sf0.01 the per-type cardinality (~1.6k user-days) is well
    outside the correction zone (2.5m = 640) and the estimate lands
    within the 1.04/sqrt(256) ~ 6.5% HLL error of the exact count also
    emitted alongside (the built-in self-check). Scale shape: one
    md5-per-row scan, one (type, bucket) max-register groupBy — state
    is |types| x 256 registers regardless of corpus size — then cell
    algebra. Cites topk.hll_hash_cols (the shared hash definition)."""
    from ..operators.topk import hll_hash_cols

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    key = F.concat_ws(
        "|",
        F.col("user_id").cast("string"),
        F.date_trunc("day", "ts").cast("date").cast("string"),
    )
    bucket, rho = hll_hash_cols(key)
    regs = (
        ev.select(
            "event_type", bucket.alias("bucket"), rho.alias("rho")
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.least(F.max("rho").cast("long"), F.lit(40)).alias("reg")
        )
    )
    s = regs.groupBy("event_type").agg(
        (
            F.sum(F.expr("shiftleft(1L, CAST(40 - reg AS INT))"))
            + (F.lit(256) - F.count(F.lit(1)))
            * F.expr("shiftleft(1L, 40)")
        ).alias("sdenom")
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct(key).alias("exact_ud")
    )
    return s.join(ex, "event_type").select(
        "event_type",
        F.expr(
            f"CAST(({_HLL_ALPHA_M2_C}L * shiftleft(1L, 40)) div sdenom"
            " AS DOUBLE)"
        ).alias("est_centi_user_days_d"),
        F.col("exact_ud").cast("double").alias("exact_user_days_d"),
    )


# --------------------------------------------------------------------------
# One-way ANOVA F statistic (value ~ event_type)
# --------------------------------------------------------------------------

_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _anova_exprs() -> tuple[str, str, str, str, str]:
    """Generate the conditional-aggregation and the double-chain
    expressions ONCE, shared verbatim by both engines: the group set is
    the five literal event types, so the grand mean / SSB / SSW chains
    unroll in a FIXED literal order (the lang_budget_temperature
    lesson: a groupBy double-sum is partitioning-ordered; a literal
    chain is not) — every double op is then correctly rounded
    identically on exact integer operands."""

    def cond(t: str, expr: str) -> str:
        return f"sum(CASE WHEN event_type = '{t}' THEN {expr} ELSE 0 END)"

    aggs = ", ".join(
        f"{cond(t, '1')} AS n_{t}, {cond(t, 'y')} AS s_{t},"
        f" CAST({cond(t, 'y*y')} AS DECIMAL(38,0)) AS q_{t}"
        for t in _EVENT_TYPES
    )
    nexp = " + ".join(f"CAST(n_{t} AS DOUBLE)" for t in _EVENT_TYPES)
    mexp = " + ".join(f"CAST(s_{t} AS DOUBLE)" for t in _EVENT_TYPES)
    ssb = " + ".join(
        f"(CASE WHEN n_{t} = 0 THEN 0.0 ELSE CAST(n_{t} AS DOUBLE)"
        f" * (CAST(s_{t} AS DOUBLE)/CAST(n_{t} AS DOUBLE) - gm)"
        f" * (CAST(s_{t} AS DOUBLE)/CAST(n_{t} AS DOUBLE) - gm) END)"
        for t in _EVENT_TYPES
    )
    ssw = " + ".join(
        f"(CASE WHEN n_{t} = 0 THEN 0.0 ELSE CAST(q_{t} AS DOUBLE)"
        f" - CAST(s_{t} AS DOUBLE)*CAST(s_{t} AS DOUBLE)"
        f"/CAST(n_{t} AS DOUBLE) END)"
        for t in _EVENT_TYPES
    )
    return aggs, nexp, mexp, ssb, ssw


_ANOVA_AGGS, _ANOVA_N, _ANOVA_S, _ANOVA_SSB, _ANOVA_SSW = _anova_exprs()

_ANOVA_ORACLE = f"""
    WITH base AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL),
    g AS (SELECT {_ANOVA_AGGS} FROM base),
    m AS (SELECT *, ({_ANOVA_N}) AS nn,
                 ({_ANOVA_S}) / ({_ANOVA_N}) AS gm FROM g),
    s AS (SELECT nn, ({_ANOVA_SSB}) AS ssb, ({_ANOVA_SSW}) AS ssw FROM m)
    SELECT CAST(nn AS DOUBLE) AS n_d, ssb AS ssb_d, ssw AS ssw_d,
           CASE WHEN ssw <= 0 OR nn <= 5 THEN NULL
                ELSE (ssb / 4.0) / (ssw / (nn - 5.0)) END AS f_d
    FROM s
"""


@register("anova_value_by_type", _ANOVA_ORACLE)
def q_anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic of event value (integer cents) across
    the five event types (Fisher 1925) — the does-this-feature-matter
    screen a feature-selection pass runs before training. Group sums
    (n, sum-y, sum-y^2) are exact integers (y^2 sums in DECIMAL(38,0) —
    the brier discipline); the grand mean, between/within sums of
    squares, and F unroll over the FIVE LITERAL event types in a fixed
    textual order shared verbatim with the oracle (both sides run the
    same generated expression string), so every double op is correctly
    rounded identically — no partition-ordered float summation
    anywhere. ANSI guards: absent groups contribute 0, ssw <= 0 and
    n <= k CASE to NULL. Scale shape: ONE map-side-combined aggregation
    to a single 15-column row, then scalar algebra."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.selectExpr(
        "event_type", "CAST(floor(value * 100) AS BIGINT) AS y"
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


def _split_top_level(exprs: str) -> list[str]:
    """Split a generated comma-joined SELECT list at top-level commas
    (commas inside CASE/CAST parens stay put) — selectExpr takes one
    string per output column."""
    out, depth, cur = [], 0, []
    for ch in exprs:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


# --------------------------------------------------------------------------
# Cumulative gains / decile lift table
# --------------------------------------------------------------------------

_GAINS_ORACLE = """
    WITH cells AS MATERIALIZED (
      SELECT CAST(floor(value * 100) AS BIGINT) AS v, count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS npos
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    tot AS (SELECT sum(n) AS nn, sum(npos) AS pp FROM cells),
    rk AS MATERIALIZED (
      SELECT c.v, c.n, c.npos, sum(c2.n) AS end_rank
      FROM cells c JOIN cells c2 ON c2.v >= c.v
      GROUP BY 1, 2, 3),
    dc AS (
      SELECT ((end_rank - 1) * 10) // (SELECT nn FROM tot) + 1 AS decile,
             sum(n) AS n, sum(npos) AS npos
      FROM rk GROUP BY 1),
    cum AS (
      SELECT d.decile, sum(d2.n) AS cum_n, sum(d2.npos) AS cum_pos
      FROM dc d JOIN dc d2 ON d2.decile <= d.decile
      GROUP BY 1)
    SELECT CAST(decile AS DOUBLE) AS decile_d,
           CAST(cum_n AS DOUBLE) AS cum_n_d,
           CAST(cum_pos AS DOUBLE) AS cum_pos_d,
           CAST(CASE WHEN (SELECT pp FROM tot) = 0 THEN NULL
                ELSE (cum_pos * 1000000) // (SELECT pp FROM tot) END
                AS DOUBLE) AS capture_ppm_d,
           CAST((cum_n * 1000000) // (SELECT nn FROM tot) AS DOUBLE)
             AS volume_ppm_d,
           CASE WHEN (SELECT pp FROM tot) = 0
                  OR (cum_n * 1000000) // (SELECT nn FROM tot) = 0
                THEN NULL
                ELSE CAST((cum_pos * 1000000) // (SELECT pp FROM tot)
                          AS DOUBLE)
                   / CAST((cum_n * 1000000) // (SELECT nn FROM tot)
                          AS DOUBLE) END AS lift_d
    FROM cum
"""


@register("gains_decile_lift", _GAINS_ORACLE)
def q_gains_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / decile lift table (the marketing-analytics
    model-eval staple next to roc_auc_purchase): events ranked by value
    DESCENDING, cut into 10 exact-rank deciles, each reporting the
    cumulative share of purchases captured (integer ppm) and the lift
    vs random targeting (one correctly-rounded double division of two
    exact ppm ints). Exact order statistics WITHOUT a global sort: the
    corpus collapses to the HISTOGRAM OF COUNTS (value cells), end
    ranks come from the documented O(C^2) broadcast self-join prefix
    idiom, and a cell joins the decile containing its END rank (ties
    stay together — deterministic on both engines). Decile 10 is a
    built-in self-check (capture_ppm = volume_ppm = 1e6). ANSI guards:
    zero positives and zero volume-ppm CASE to NULL on both sides."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cells = (
        ev.selectExpr(
            "CAST(floor(value * 100) AS BIGINT) AS v",
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos",
        )
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum("pos").alias("npos")
        )
    )
    tot = cells.agg(
        F.sum("n").alias("nn"), F.sum("npos").alias("pp")
    )
    c2 = cells.select(F.col("v").alias("v2"), F.col("n").alias("n2"))
    rk = (
        cells.join(F.broadcast(c2), F.col("v2") >= F.col("v"))
        .groupBy("v", "n", "npos")
        .agg(F.sum("n2").alias("end_rank"))
    )
    dc = (
        rk.crossJoin(F.broadcast(tot))
        .groupBy(
            F.expr("((end_rank - 1) * 10) div nn + 1").alias("decile")
        )
        .agg(F.sum("n").alias("n"), F.sum("npos").alias("npos"))
    )
    d2 = dc.select(
        F.col("decile").alias("decile2"),
        F.col("n").alias("n2"),
        F.col("npos").alias("npos2"),
    )
    cum = (
        dc.join(F.broadcast(d2), F.col("decile2") <= F.col("decile"))
        .groupBy("decile")
        .agg(
            F.sum("n2").alias("cum_n"), F.sum("npos2").alias("cum_pos")
        )
    )
    return cum.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(decile AS DOUBLE) AS decile_d",
        "CAST(cum_n AS DOUBLE) AS cum_n_d",
        "CAST(cum_pos AS DOUBLE) AS cum_pos_d",
        "CAST(CASE WHEN pp = 0 THEN NULL"
        " ELSE (cum_pos * 1000000L) div pp END AS DOUBLE)"
        " AS capture_ppm_d",
        "CAST((cum_n * 1000000L) div nn AS DOUBLE) AS volume_ppm_d",
        "CASE WHEN pp = 0 OR (cum_n * 1000000L) div nn = 0 THEN NULL"
        " ELSE CAST((cum_pos * 1000000L) div pp AS DOUBLE)"
        "    / CAST((cum_n * 1000000L) div nn AS DOUBLE) END AS lift_d",
    )


# --------------------------------------------------------------------------
# Two-level HLL register merge — the 100 TB sketch-merge identity, exact
# --------------------------------------------------------------------------

_HLL_MERGE_ORACLE = """
    WITH h AS (
      SELECT event_type,
             md5(CAST(user_id AS VARCHAR) || '|'
                 || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR))
               AS hx
      FROM events WHERE user_id IS NOT NULL),
    b AS (
      SELECT event_type,
             CAST((strpos('0123456789abcdef', hx[1:1]) - 1) * 16
                  + (strpos('0123456789abcdef', hx[2:2]) - 1) AS INT)
               AS bucket,
             hx[3:32] AS rest
      FROM h),
    r AS (
      SELECT event_type, bucket, ltrim(rest, '0') AS stripped,
             len(rest) - len(ltrim(rest, '0')) AS nz
      FROM b),
    v AS (
      SELECT event_type, bucket,
             CASE WHEN stripped = '' THEN 121
                  ELSE 4 * nz + (4 - CASE
                    WHEN strpos('0123456789abcdef', stripped[1:1]) - 1 >= 8
                      THEN 4
                    WHEN strpos('0123456789abcdef', stripped[1:1]) - 1 >= 4
                      THEN 3
                    WHEN strpos('0123456789abcdef', stripped[1:1]) - 1 >= 2
                      THEN 2
                    ELSE 1 END) + 1
             END AS rho
      FROM v_src(r))
    SELECT event_type, bucket, CAST(max(rho) AS INT) AS register
    FROM v GROUP BY 1, 2
"""
# DuckDB has no v_src(); inline the alias
_HLL_MERGE_ORACLE = _HLL_MERGE_ORACLE.replace("FROM v_src(r)", "FROM r")


@register("hll_merge_registers_exact", _HLL_MERGE_ORACLE)
def q_hll_merge_registers_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB sketch-merge identity made EXACT: per-day HLL register
    partials (the per-partition sketches a petabyte pipeline stores
    instead of raw keys) max-merged upward must equal the single-pass
    register table bit-for-bit, because max is associative and
    commutative. The Spark side builds the daily partials in one
    aggregation and max-merges them in a second (the plan is genuinely
    two-level — partial sketch build, then merge); the oracle
    computes the direct single-pass registers, so the driver hash-check
    IS the merge≡direct proof on this round's testdata. Exact
    counterpart to hll_partition_merge (rows-only by design — Spark's
    native DataSketches estimates have no DuckDB equivalent); same
    user-day key and md5-nibble registers as hll_user_days_estimate
    (topk.hll_hash_cols, the shared hash definition). Scale shape: two
    map-side-combined max-aggregations; state is |days|x|types|x256
    then |types|x256 registers regardless of corpus size."""
    from ..operators.topk import hll_hash_cols

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    key = F.concat_ws(
        "|",
        F.col("user_id").cast("string"),
        F.date_trunc("day", "ts").cast("date").cast("string"),
    )
    bucket, rho = hll_hash_cols(key)
    daily = (
        ev.select(
            F.date_trunc("day", "ts").alias("day"),
            "event_type",
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("day", "event_type", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    return (
        daily.groupBy("event_type", "bucket")
        .agg(F.max("r").cast("int").alias("register"))
    )

"""Round-10 additions: pseudo-relevance-feedback retrieval (Rocchio
query expansion over the verified BM25 kernel), ordered sequential
pattern mining, Kendall tau-b association via the cell-histogram idiom,
the Murphy decomposition of the Brier score, and Heaps-law vocabulary
growth curves.

Registered AFTER q15_round9 (registry/__init__.py import order) so the
existing ``queries()`` tail stays byte-stable.

Cross-engine discipline (CLAUDE.md): every float expression keeps the
identical operand order on both engines and is either floored to
integer micro-units before any reaggregation (order-free BIGINT sums)
or is a single correctly-rounded +,-,*,/,sqrt chain over integers; all
DuckDB decimal literals ride on a DOUBLE-typed left operand so the
whole chain promotes to DOUBLE (the r7 benford trap).
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _t, register  # noqa: F401

from ..operators import text


# --------------------------------------------------------------------------
# Pseudo-relevance feedback (Rocchio) query expansion
# --------------------------------------------------------------------------

_PRF_SEEDS = ("stream", "window")
_PRF_N_FB = 3  # feedback docs
_PRF_N_EXP = 5  # expansion terms
_PRF_SEED_W = 2  # Rocchio alpha (integer weights keep sums order-free)
_PRF_EXP_W = 1  # Rocchio beta

# Shared oracle prefix: tokens -> corpus stats -> df table -> stage-1 BM25
# (micro-unit floors, so per-doc sums are order-free BIGINT) -> top-3
# feedback docs -> candidate terms -> top-5 expansion terms by the
# rational-idf Robertson weight ranked entirely in integer arithmetic.
_PRF_PREFIX = r"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t,
             len(string_split_regex(lower(trim(text)), '\s+')) AS dl
      FROM documents),
    stats AS MATERIALIZED (
      SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl
      FROM base),
    dftbl AS MATERIALIZED (
      SELECT term, count(*) AS df
      FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM base) q
      GROUP BY term),
    seeds AS (SELECT unnest(['stream', 'window']) AS term),
    per1 AS (
      SELECT b.doc_id, b.dl, s.term,
             len(list_filter(b.t, x -> x = s.term)) AS tf
      FROM base b CROSS JOIN seeds s),
    hit1 AS (SELECT * FROM per1 WHERE tf > 0),
    sc1 AS (
      SELECT h.doc_id,
             CAST(floor(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                         / (CAST(df AS DOUBLE) + 0.5))
                        * (CAST(h.tf AS DOUBLE) * 2.2)
                        / (CAST(h.tf AS DOUBLE)
                           + 1.2 * (0.25 + 0.75 * (CAST(h.dl AS DOUBLE)
                                    / (sum_dl / CAST(n_docs AS DOUBLE)))))
                        * CAST(1000000 AS DOUBLE)) AS BIGINT) AS micro
      FROM hit1 h JOIN dftbl USING (term) CROSS JOIN stats),
    fb AS MATERIALIZED (
      SELECT doc_id, sum(micro) AS s0 FROM sc1 GROUP BY doc_id
      ORDER BY s0 DESC, doc_id ASC LIMIT 3),
    cand AS (
      SELECT term, count(*) AS tf_fb
      FROM (SELECT unnest(b.t) AS term FROM base b JOIN fb USING (doc_id)) q
      WHERE regexp_matches(term, '^[a-z]+$') AND len(term) >= 3
        AND term NOT IN ('stream', 'window')
      GROUP BY term),
    expterms AS MATERIALIZED (
      SELECT c.term, c.tf_fb, d.df,
             (c.tf_fb * (2 * ((SELECT n_docs FROM stats) - d.df) + 1)
              * 1000000) // (2 * d.df + 1) AS w_micro
      FROM cand c JOIN dftbl d USING (term)
      ORDER BY w_micro DESC, term ASC LIMIT 5)
"""

_PRF_TERMS_ORACLE = (
    _PRF_PREFIX
    + """
    SELECT term, CAST(tf_fb AS DOUBLE) AS tf_fb_d,
           CAST(df AS DOUBLE) AS df_d,
           CAST(w_micro AS DOUBLE) AS w_micro_d
    FROM expterms
    """
)

_PRF_DOCS_ORACLE = (
    _PRF_PREFIX
    + """
    , terms2 AS (
      SELECT term, 2 AS w FROM seeds
      UNION ALL SELECT term, 1 AS w FROM expterms),
    per2 AS (
      SELECT b.doc_id, b.dl, s.term, s.w,
             len(list_filter(b.t, x -> x = s.term)) AS tf
      FROM base b CROSS JOIN terms2 s),
    hit2 AS (SELECT * FROM per2 WHERE tf > 0),
    sc2 AS (
      SELECT h.doc_id,
             CAST(floor(((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                         / (CAST(df AS DOUBLE) + 0.5))
                        * (CAST(h.tf AS DOUBLE) * 2.2)
                        / (CAST(h.tf AS DOUBLE)
                           + 1.2 * (0.25 + 0.75 * (CAST(h.dl AS DOUBLE)
                                    / (sum_dl / CAST(n_docs AS DOUBLE)))))
                        * CAST(1000000 AS DOUBLE)) AS BIGINT) * h.w AS micro
      FROM hit2 h JOIN dftbl USING (term) CROSS JOIN stats)
    SELECT doc_id, CAST(sum(micro) AS DOUBLE) AS prf_score_micro_d
    FROM sc2 GROUP BY doc_id
    ORDER BY sum(micro) DESC, doc_id ASC LIMIT 10
    """
)


def _prf_bm25_micro(base, stats, dftbl, terms):
    """Per-(doc, term) BM25 floored to integer micro-units and scaled by
    the term's integer Rocchio weight. The float chain (rational
    Robertson idf x saturated tf / length norm) keeps the exact operand
    order of the oracle SQL — correctly-rounded ops on both engines —
    and the floor makes every later sum order-free BIGINT arithmetic.

    dftbl grows with corpus vocabulary (Heaps law), so it is NEVER
    broadcast whole (ADVICE r10): it is first semi-reduced to the <=7
    seed/expansion terms via an equi-join against the bounded term
    list, and only that <=7-row slice is broadcast into the scoring
    join -- the broadcast envelope is O(|terms|), corpus-independent."""
    df_small = dftbl.join(F.broadcast(terms.select("term")), "term")
    per = (
        base.crossJoin(F.broadcast(terms))
        .select(
            "doc_id",
            "dl",
            "term",
            "w",
            F.size(
                F.filter(F.col("t"), lambda x: x == F.col("term"))
            ).alias("tf"),
        )
        .filter(F.col("tf") > 0)
    )
    scored = per.join(F.broadcast(df_small), "term").crossJoin(
        F.broadcast(stats)
    )
    n_docs_d = F.col("n_docs").cast("double")
    df_d = F.col("df").cast("double")
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    idf = (n_docs_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5))
    raw = (
        idf
        * (tf_d * F.lit(2.2))
        / (
            tf_d
            + F.lit(1.2)
            * (
                F.lit(0.25)
                + F.lit(0.75) * (dl_d / (F.col("sum_dl") / n_docs_d))
            )
        )
    )
    return scored.select(
        "doc_id",
        "term",
        (F.floor(raw * F.lit(1000000.0)) * F.col("w")).alias("micro"),
    )


def _prf_frames(spark: SparkSession, sf_dir: str):
    """Shared PRF stage frames: the token scan, corpus stats, the df
    table (per-doc array_distinct explode, so no global DISTINCT
    shuffle), and the top-5 expansion-term frame."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens_col(F.col("text"))
    base = docs.select("doc_id", toks.alias("t"), F.size(toks).alias("dl"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    dftbl = (
        base.select(F.explode(F.array_distinct("t")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # .limit pins logical maxRows: createDataFrame yields an RDD-backed
    # scan Catalyst cannot bound, and the plan lint (rightly) rejects a
    # BNLJ whose build side has no provable row bound.
    seeds = spark.createDataFrame(
        [(t, 1) for t in _PRF_SEEDS], "term string, w int"
    ).limit(len(_PRF_SEEDS))
    # Score the seed terms ONCE into the per-(doc, term) micro frame (r15,
    # guide §2.4): it is bounded by |seed hits| (≤ 2 rows per doc —
    # keys+metadata, never corpus payload) and feeds both the stage-1
    # feedback ranking here and the stage-2 re-scoring
    # (seeds carry weight 2 there: floor(raw·1e6)·2 == micro·2, so the
    # stage-2 fan-out only scores the 5 expansion terms instead of
    # re-scanning every token array for the seeds too).
    seed_micro = _prf_bm25_micro(base, stats, dftbl, seeds)
    s1 = seed_micro.groupBy("doc_id").agg(F.sum("micro").alias("s0"))
    fb = s1.orderBy(F.col("s0").desc(), F.col("doc_id").asc()).limit(
        _PRF_N_FB
    )
    cand = (
        base.join(F.broadcast(fb.select("doc_id")), "doc_id")
        .select(F.explode("t").alias("term"))
        .filter(
            F.col("term").rlike("^[a-z]+$")
            & (F.length("term") >= 3)
            & ~F.col("term").isin(*_PRF_SEEDS)
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf_fb"))
    )
    expterms = (
        cand.join(dftbl, "term")
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "term",
            "tf_fb",
            "df",
            F.expr(
                "(tf_fb * (2 * (n_docs - df) + 1) * 1000000L)"
                " div (2 * df + 1)"
            ).alias("w_micro"),
        )
        .orderBy(F.col("w_micro").desc(), F.col("term").asc())
        .limit(_PRF_N_EXP)
    )
    return base, stats, dftbl, seeds, expterms, seed_micro


@register("prf_expansion_terms", _PRF_TERMS_ORACLE)
def q_prf_expansion_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance-feedback expansion terms (Robertson &
    Sparck Jones term weighting; /root/reference has no retrieval loop —
    north-star RAG surface): BM25-score the seed query, take the top-3
    feedback docs, rank their terms by feedback tf x rational Robertson
    idf. The rational weight (tf*(2(N-df)+1)*1e6) div (2df+1) clears the
    0.5-offsets without floats, so ranking is pure BIGINT — no log, no
    rounding discipline needed (CLAUDE.md: monotone transforms preserve
    rankings). Scale shape: seed scoring is the verified BM25 kernel
    (tiny literal fan-out), the feedback-doc token pool is 3 docs, and
    df comes from one per-doc-distinct explode + groupBy."""
    _, _, _, _, expterms, _ = _prf_frames(spark, sf_dir)
    return expterms.select(
        "term",
        F.col("tf_fb").cast("double").alias("tf_fb_d"),
        F.col("df").cast("double").alias("df_d"),
        F.col("w_micro").cast("double").alias("w_micro_d"),
    )


@register("prf_query_expansion", _PRF_DOCS_ORACLE)
def q_prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PRF retrieval round-trip: seed BM25 -> top-3 feedback docs ->
    top-5 expansion terms -> weighted re-scoring (seeds x2, expansion
    x1, integer Rocchio weights) -> top-10 documents. Per-term BM25 is
    floored to micro-units BEFORE the per-doc sum, so the final scores
    are order-free BIGINT sums — exactly hashable cross-engine — while
    ranking is unchanged for any realistic score gap. Scale shape: two
    bounded broadcast term fan-outs (2 and 7 rows) over the token scan;
    the only shuffles are the df/doc-score groupBys."""
    base, stats, dftbl, seeds, expterms, seed_micro = _prf_frames(
        spark, sf_dir
    )
    # Stage-2 scoring reuses the stage-1 seed micros (x the integer
    # Rocchio seed weight — exactly floor(raw*1e6)*w, the oracle's
    # per-term value) and fans out over the 5 expansion terms only;
    # seed and expansion term sets are disjoint by construction (the
    # candidate stage excludes seeds), so the union is the oracle's
    # terms2 scoring row-for-row.
    exp_micro = _prf_bm25_micro(
        base, stats, dftbl,
        expterms.select("term", F.lit(_PRF_EXP_W).alias("w")),
    )
    sc2 = seed_micro.select(
        "doc_id", (F.col("micro") * F.lit(_PRF_SEED_W)).alias("micro")
    ).unionByName(exp_micro.select("doc_id", "micro"))
    return (
        sc2.groupBy("doc_id")
        .agg(F.sum("micro").alias("s"))
        .orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", F.col("s").cast("double").alias("prf_score_micro_d"))
    )


# --------------------------------------------------------------------------
# Ordered sequential pattern mining (a then b then c)
# --------------------------------------------------------------------------

_SEQ_ORACLE = """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT user_id, event_type, ts FROM events),
    a AS MATERIALIZED (
      SELECT user_id, event_type AS step_a, min(ts) AS t1
      FROM e GROUP BY 1, 2),
    b AS MATERIALIZED (
      SELECT a.user_id, a.step_a, e.event_type AS step_b, min(e.ts) AS t2
      FROM a JOIN e ON e.user_id = a.user_id AND e.ts > a.t1
      GROUP BY 1, 2, 3),
    c AS (
      SELECT DISTINCT b.user_id, b.step_a, b.step_b,
             e.event_type AS step_c
      FROM b JOIN e ON e.user_id = b.user_id AND e.ts > b.t2)
    SELECT step_a, step_b, step_c, CAST(count(*) AS DOUBLE) AS support_d
    FROM c GROUP BY 1, 2, 3
"""


@register("sequential_pattern_support", _SEQ_ORACLE)
def q_sequential_pattern_support(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Frequent ordered 3-sequences (GSP/PrefixSpan support counting,
    Srikant & Agrawal 1996) over per-user event streams: a pattern
    a->b->c is supported by a user iff some a precedes some b precedes
    some c in strict timestamp order. Greedy earliest-occurrence is
    exact for containment (if any witness chain exists, the one through
    the earliest a and then the earliest later b finds it), so three
    min-aggregations replace a subsequence scan. Complements
    frequent_triples (unordered co-occurrence) with ORDER sensitivity.
    Scale shape: everything keys on user_id — three co-partitioned
    equi-joins and groupBys, intermediate width bounded by |types|^2
    (25 rows/user), no window, no broadcast growth."""
    ev = _t(spark, sf_dir, "events")
    # e is read three times (the a-aggregate and the b/c joins); at sf0.1
    # recomputing it measured no slower than materializing it.
    e = ev.select("user_id", "event_type", "ts").distinct()
    a = e.groupBy(
        "user_id", F.col("event_type").alias("step_a")
    ).agg(F.min("ts").alias("t1"))
    b = (
        e.join(a, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "step_a", F.col("event_type").alias("step_b"))
        .agg(F.min("ts").alias("t2"))
    )
    c = (
        e.join(b, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .select(
            "user_id", "step_a", "step_b",
            F.col("event_type").alias("step_c"),
        )
        .distinct()
    )
    return c.groupBy("step_a", "step_b", "step_c").agg(
        F.count(F.lit(1)).cast("double").alias("support_d")
    )


# --------------------------------------------------------------------------
# Kendall tau-b via the cell-histogram idiom
# --------------------------------------------------------------------------

_KENDALL_ORACLE = """
    WITH base AS MATERIALIZED (
      SELECT CAST(extract(hour FROM ts) AS BIGINT) AS x,
             least(9, CAST(floor(value / 50.0) AS BIGINT)) AS y
      FROM events WHERE value IS NOT NULL),
    cells AS MATERIALIZED (
      SELECT x, y, count(*) AS n FROM base GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
    tx AS (SELECT CAST(sum(s * (s - 1) // 2) AS BIGINT) AS n1
           FROM (SELECT sum(n) AS s FROM cells GROUP BY x) q),
    ty AS (SELECT CAST(sum(s * (s - 1) // 2) AS BIGINT) AS n2
           FROM (SELECT sum(n) AS s FROM cells GROUP BY y) q),
    conc AS (
      SELECT CAST(sum(CASE WHEN c2.y > c1.y THEN c1.n * c2.n
                           ELSE 0 END) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN c2.y < c1.y THEN c1.n * c2.n
                           ELSE 0 END) AS BIGINT) AS nd
      FROM cells c1 JOIN cells c2 ON c2.x > c1.x)
    SELECT CAST(nc AS DOUBLE) AS nc_d, CAST(nd AS DOUBLE) AS nd_d,
           CAST(nn * (nn - 1) // 2 AS DOUBLE) AS n0_d,
           CAST(n1 AS DOUBLE) AS n1_d, CAST(n2 AS DOUBLE) AS n2_d,
           CASE WHEN nn * (nn - 1) // 2 = n1 OR nn * (nn - 1) // 2 = n2
                THEN NULL
                ELSE (CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))
                     / sqrt((CAST(nn * (nn - 1) // 2 AS DOUBLE)
                             - CAST(n1 AS DOUBLE))
                            * (CAST(nn * (nn - 1) // 2 AS DOUBLE)
                               - CAST(n2 AS DOUBLE)))
           END AS tau_b_d
    FROM conc CROSS JOIN tot CROSS JOIN tx CROSS JOIN ty
"""


@register("kendall_tau_hour_value", _KENDALL_ORACLE)
def q_kendall_tau_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (tie-corrected) between hour-of-day and the bucketed
    event value — rank association without Spearman's rank windows.
    Exact order statistics at scale via the histogram-of-counts idiom
    (CLAUDE.md): aggregate to (hour, bucket) cells — at most 24 x 10
    regardless of row count — then count concordant/discordant pairs by
    the O(C^2) broadcast cell self-join; concordance sums, pair counts
    and tie terms are pure BIGINT (safe to ~1e9 rows), and tau-b itself
    is one correctly-rounded -,*,/,sqrt chain over those integers with
    an ANSI zero-variance CASE guard on both engines."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        F.hour("ts").cast("long").alias("x"),
        F.least(F.lit(9), F.floor(F.col("value") / 50.0))
        .cast("long")
        .alias("y"),
    )
    cells = base.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("nn"))
    tx = (
        cells.groupBy("x")
        .agg(F.sum("n").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) div 2")).alias("n1"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("n").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) div 2")).alias("n2"))
    )
    c2 = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"),
        F.col("n").alias("n2c"),
    )
    conc = (
        cells.join(F.broadcast(c2), F.col("x2") > F.col("x"))
        .agg(
            F.sum(
                F.when(F.col("y2") > F.col("y"), F.col("n") * F.col("n2c"))
                .otherwise(F.lit(0))
            ).alias("nc"),
            F.sum(
                F.when(F.col("y2") < F.col("y"), F.col("n") * F.col("n2c"))
                .otherwise(F.lit(0))
            ).alias("nd"),
        )
    )
    joined = (
        conc.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    return joined.select(
        F.col("nc").cast("double").alias("nc_d"),
        F.col("nd").cast("double").alias("nd_d"),
        F.expr("CAST(nn * (nn - 1) div 2 AS DOUBLE)").alias("n0_d"),
        F.col("n1").cast("double").alias("n1_d"),
        F.col("n2").cast("double").alias("n2_d"),
        F.expr(
            "CASE WHEN nn * (nn - 1) div 2 = n1"
            " OR nn * (nn - 1) div 2 = n2 THEN NULL"
            " ELSE (CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))"
            " / sqrt((CAST(nn * (nn - 1) div 2 AS DOUBLE)"
            " - CAST(n1 AS DOUBLE))"
            " * (CAST(nn * (nn - 1) div 2 AS DOUBLE)"
            " - CAST(n2 AS DOUBLE))) END"
        ).alias("tau_b_d"),
    )


# --------------------------------------------------------------------------
# Brier score + Murphy decomposition (reliability / resolution / uncertainty)
# --------------------------------------------------------------------------

def _brier_base(ev: DataFrame) -> DataFrame:
    """Per-event (bin, outcome, score-ppm) rows — a stateless narrow map,
    shared verbatim by the batch query and the streaming ingest twin."""
    return ev.filter(F.col("value").isNotNull()).select(
        F.least(F.lit(9), F.floor(F.col("value") / 50.0))
        .cast("long")
        .alias("bin"),
        (F.col("event_type") == "purchase").cast("long").alias("o"),
        F.expr(
            "CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT) * 20"
        ).alias("sc_ppm"),
    )


def _brier_cells(base: DataFrame) -> DataFrame:
    """One additive groupBy to <= 10 bin cells: counts, positives, score
    sums, and the DECIMAL(38,0) squared-error sum (per-term <= 1e12 so
    products stay BIGINT; only the corpus-scale SUM needs the wide
    accumulator). Every aggregate is additive, so the same expression
    runs as a complete-mode streaming aggregation."""
    return base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o").alias("npos"),
        F.sum("sc_ppm").alias("s_ppm"),
        F.sum(
            F.expr(
                "CAST((sc_ppm - o * 1000000L)"
                " * (sc_ppm - o * 1000000L) AS DECIMAL(38,0))"
            )
        ).alias("sq"),
    )


def _brier_from_cells(cells: DataFrame) -> DataFrame:
    """Fold the <= 10 bin cells to the Brier/Murphy summary row."""
    tot = cells.agg(
        F.sum("n").alias("nn"),
        F.sum("npos").alias("npos"),
        F.sum("sq").alias("sq"),
    )
    per = cells.select(
        "n",
        F.expr("(npos * 1000000L) div n").alias("acc_ppm"),
        F.expr("s_ppm div n").alias("conf_ppm"),
    )
    bs = tot.select(F.expr("(npos * 1000000L) div nn").alias("base_ppm"))
    agg = per.crossJoin(F.broadcast(bs)).agg(
        F.sum(
            F.expr(
                "CAST(n * (conf_ppm - acc_ppm)"
                " * (conf_ppm - acc_ppm) AS DECIMAL(38,0))"
            )
        ).alias("rel_s"),
        F.sum(
            F.expr(
                "CAST(n * (acc_ppm - base_ppm)"
                " * (acc_ppm - base_ppm) AS DECIMAL(38,0))"
            )
        ).alias("res_s"),
        F.first("base_ppm").alias("base_ppm"),
    )
    return tot.crossJoin(F.broadcast(agg)).select(
        F.col("nn").cast("double").alias("n_d"),
        F.expr("CAST(sq div nn AS DOUBLE)").alias("brier_ppm2_d"),
        F.expr("CAST(rel_s div nn AS DOUBLE)").alias("rel_ppm2_d"),
        F.expr("CAST(res_s div nn AS DOUBLE)").alias("res_ppm2_d"),
        F.expr(
            "CAST(base_ppm * (1000000L - base_ppm) AS DOUBLE)"
        ).alias("unc_ppm2_d"),
        F.col("base_ppm").cast("double").alias("base_ppm_d"),
    )


_BRIER_ORACLE = """
    WITH base AS MATERIALIZED (
      SELECT least(9, CAST(floor(value / 50.0) AS BIGINT)) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o,
             CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT) * 20
               AS sc_ppm
      FROM events WHERE value IS NOT NULL),
    tot AS MATERIALIZED (
      SELECT count(*) AS nn, sum(o) AS npos,
             sum((sc_ppm - o * 1000000) * (sc_ppm - o * 1000000)) AS sq
      FROM base),
    g AS (
      SELECT bin, count(*) AS n, sum(o) AS npos, sum(sc_ppm) AS s_ppm
      FROM base GROUP BY bin),
    per AS MATERIALIZED (
      SELECT bin, n,
             (npos * 1000000) // n AS acc_ppm,
             s_ppm // n AS conf_ppm
      FROM g),
    bs AS MATERIALIZED (
      SELECT (SELECT npos FROM tot) * 1000000 // (SELECT nn FROM tot)
        AS base_ppm),
    agg AS (
      SELECT sum(n * (conf_ppm - acc_ppm) * (conf_ppm - acc_ppm)) AS rel_s,
             sum(n * (acc_ppm - (SELECT base_ppm FROM bs))
                 * (acc_ppm - (SELECT base_ppm FROM bs))) AS res_s
      FROM per)
    SELECT CAST(nn AS DOUBLE) AS n_d,
           CAST(sq // nn AS DOUBLE) AS brier_ppm2_d,
           CAST(rel_s // nn AS DOUBLE) AS rel_ppm2_d,
           CAST(res_s // nn AS DOUBLE) AS res_ppm2_d,
           CAST(base_ppm * (1000000 - base_ppm) AS DOUBLE) AS unc_ppm2_d,
           CAST(base_ppm AS DOUBLE) AS base_ppm_d
    FROM tot CROSS JOIN bs CROSS JOIN agg
"""


@register("brier_score_decomposition", _BRIER_ORACLE)
def q_brier_score_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brier score of the value-as-score purchase screen plus the Murphy
    (1973) decomposition over the ECE bin structure: reliability
    (n-weighted squared calibration gap), resolution (n-weighted squared
    lift of each bin's base rate over the corpus base rate) and
    uncertainty base(1-base). All arithmetic in ppm/ppm^2 integers —
    squared per-event terms are <= 1e12 so the products stay BIGINT,
    while the corpus-scale SUMS accumulate in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) and integer-divide once (the q13 overflow-safe
    pattern). NULL scores excluded up front on both sides, matching
    ece_calibration_error."""
    base = _brier_base(_t(spark, sf_dir, "events"))
    return _brier_from_cells(_brier_cells(base))


@register("streaming_calibration_ingest", _BRIER_ORACLE)
def q_streaming_calibration_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Brier/Murphy calibration summary maintained CONTINUOUSLY at
    ingest: the events replay maps each micro-batch to (bin, outcome,
    score-ppm) rows statelessly, ONE complete-mode groupBy keeps the
    <= 10 additive bin cells (counts, positives, score sums, DECIMAL
    squared-error sums), and the drained cells run the identical batch
    tail — so the batch oracle applies verbatim. State honesty: state is
    exactly the 10 cells x 4 integers at any corpus size; this is the
    monitoring-surface twin (is the live score stream drifting out of
    calibration?) of brier_score_decomposition."""
    from .q04_streamksql import _STREAM_SEQ, _replay_events

    stream = _replay_events(spark, sf_dir)
    cells = _brier_cells(_brier_base(stream))
    drained = stream_sinks.run_to_memory(
        cells,
        f"reg_stream_calib_{next(_STREAM_SEQ)}",
        output_mode="complete",
    )
    return _brier_from_cells(drained)


# --------------------------------------------------------------------------
# Heaps-law vocabulary growth
# --------------------------------------------------------------------------

_HEAPS_ORACLE = r"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    mx AS (SELECT max(doc_id) AS m FROM d),
    ck AS MATERIALIZED (
      SELECT k, ((SELECT m FROM mx) + 1) * k // 16 - 1 AS c
      FROM (SELECT unnest([1, 2, 4, 8, 16]) AS k) q),
    fu AS MATERIALIZED (
      SELECT term, min(doc_id) AS fd
      FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM d) q
      GROUP BY term),
    fbg AS MATERIALIZED (
      SELECT bg, min(doc_id) AS fd
      FROM (SELECT doc_id,
                   unnest(list_distinct(list_transform(
                     range(1, len(t)), i -> t[i] || ' ' || t[i + 1])))
                     AS bg
            FROM d) q
      GROUP BY bg),
    toks AS (
      SELECT ck.k,
             sum(CASE WHEN d.doc_id <= ck.c THEN len(d.t) ELSE 0 END)
               AS n_tokens
      FROM d CROSS JOIN ck GROUP BY ck.k),
    vu AS (
      SELECT ck.k,
             sum(CASE WHEN fu.fd <= ck.c THEN 1 ELSE 0 END) AS v_uni
      FROM fu CROSS JOIN ck GROUP BY ck.k),
    vb AS (
      SELECT ck.k,
             sum(CASE WHEN fbg.fd <= ck.c THEN 1 ELSE 0 END) AS v_bi
      FROM fbg CROSS JOIN ck GROUP BY ck.k)
    SELECT CAST(k AS DOUBLE) AS k_frac16_d,
           CAST(n_tokens AS DOUBLE) AS n_tokens_d,
           CAST(v_uni AS DOUBLE) AS vocab_uni_d,
           CAST(v_bi AS DOUBLE) AS vocab_bi_d
    FROM toks JOIN vu USING (k) JOIN vb USING (k)
"""


@register("heaps_vocab_growth", _HEAPS_ORACLE)
def q_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve (Heaps 1978): distinct unigram
    and bigram vocabulary vs cumulative token count at five data-adaptive
    corpus prefixes (1/16, 1/8, 1/4, 1/2, 1 of the doc_id range — fixed
    counts would degenerate when the corpus scales, the r7 adaptive-cap
    lesson). No prefix window: each term/bigram reduces to its FIRST
    doc_id (one groupBy), then five conditional sums against a broadcast
    5-row checkpoint frame — O(vocab) work, no single-partition sort at
    any corpus size. Bigrams carry the signal on a closed unigram
    vocabulary (unigrams saturate; the curve shape is the corpus-mix
    diagnostic a tokenizer-budget planner reads)."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens_col(F.col("text"))
    d = sizing.materialize(docs.select("doc_id", toks.alias("t")), "heaps doc tokens")
    mx = d.agg(F.max("doc_id").alias("m"))
    # .limit(5) pins logical maxRows (RDD-backed literal frame + 1-row
    # aggregate cross join — bounded by construction, provable for the
    # plan lint only through the explicit limit).
    ckf = (
        spark.createDataFrame([(1,), (2,), (4,), (8,), (16,)], "k int")
        .crossJoin(F.broadcast(mx))
        .select("k", F.expr("((m + 1) * k) div 16 - 1").alias("c"))
        .limit(5)
    )
    toksk = (
        d.crossJoin(F.broadcast(ckf))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("doc_id") <= F.col("c"), F.size("t"))
                .otherwise(F.lit(0))
            ).alias("n_tokens")
        )
    )
    fu = (
        d.select("doc_id", F.explode(F.array_distinct("t")).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("fd"))
    )
    fbg = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(text.shingles(F.col("t"), 2))
            ).alias("bg"),
        )
        .groupBy("bg")
        .agg(F.min("doc_id").alias("fd"))
    )

    def _growth(first_doc: DataFrame, out: str) -> DataFrame:
        return (
            first_doc.crossJoin(F.broadcast(ckf))
            .groupBy("k")
            .agg(
                F.sum(
                    F.when(F.col("fd") <= F.col("c"), F.lit(1))
                    .otherwise(F.lit(0))
                ).alias(out)
            )
        )

    vu = _growth(fu, "v_uni")
    vb = _growth(fbg, "v_bi")
    return (
        toksk.join(vu, "k")
        .join(vb, "k")
        .select(
            F.col("k").cast("double").alias("k_frac16_d"),
            F.col("n_tokens").cast("double").alias("n_tokens_d"),
            F.col("v_uni").cast("double").alias("vocab_uni_d"),
            F.col("v_bi").cast("double").alias("vocab_bi_d"),
        )
    )


# --------------------------------------------------------------------------
# 5-fold cross-validated decision stump (fold-complement histograms)
# --------------------------------------------------------------------------

_STUMP_CV_ORACLE = """
    WITH base AS MATERIALIZED (
      SELECT ('0x' || substr(md5('cv:' || CAST(event_id AS VARCHAR)), 1, 7))
               ::UBIGINT::BIGINT % 5 AS fold,
             CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT) AS y,
             CAST(extract(hour FROM ts) AS BIGINT) AS f1,
             CAST(datediff('day', TIMESTAMP '2024-01-01',
                           date_trunc('day', ts)) % 7 AS BIGINT) AS f2,
             CAST(datediff('day', TIMESTAMP '2024-01-01',
                           date_trunc('day', ts)) AS BIGINT) AS f3
      FROM events
      WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-01'),
    feat AS (
      SELECT fold, y, fid,
             CASE fid WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END AS v
      FROM base CROSS JOIN (SELECT unnest([1, 2, 3]) AS fid)),
    hist AS MATERIALIZED (
      SELECT fold, fid, v, count(*) AS c, sum(y) AS s
      FROM feat GROUP BY 1, 2, 3),
    tot AS MATERIALIZED (
      SELECT fid, v, sum(c) AS c, sum(s) AS s FROM hist GROUP BY 1, 2),
    folds AS (SELECT unnest(range(0, 5)) AS fold),
    trainhist AS MATERIALIZED (
      SELECT f.fold, t.fid, t.v,
             t.c - coalesce(h.c, 0) AS c, t.s - coalesce(h.s, 0) AS s
      FROM tot t CROSS JOIN folds f
      LEFT JOIN hist h
        ON h.fold = f.fold AND h.fid = t.fid AND h.v = t.v),
    ttot AS (
      SELECT fold, fid, sum(c) AS n_t, sum(s) AS s_t
      FROM trainhist GROUP BY 1, 2),
    bounds AS (SELECT fid, min(v) AS lo, max(v) AS hi FROM tot GROUP BY 1),
    grid AS (
      SELECT DISTINCT fid, lo + ((hi - lo) * j) // 16 AS thr
      FROM bounds CROSS JOIN (SELECT unnest(range(1, 16)) AS j)),
    split AS (
      SELECT th.fold, g.fid, g.thr,
             sum(CASE WHEN th.v <= g.thr THEN th.c ELSE 0 END) AS n_l,
             sum(CASE WHEN th.v <= g.thr THEN th.s ELSE 0 END) AS s_l
      FROM grid g JOIN trainhist th ON th.fid = g.fid
      GROUP BY 1, 2, 3),
    scored AS (
      SELECT sp.fold, sp.fid, sp.thr, sp.n_l, sp.s_l, tt.n_t, tt.s_t,
             CASE WHEN sp.n_l = 0 OR tt.n_t - sp.n_l = 0
                  THEN CAST(-1 AS DOUBLE)
                  ELSE CAST(sp.s_l AS DOUBLE) * CAST(sp.s_l AS DOUBLE)
                         / sp.n_l
                       + CAST(tt.s_t - sp.s_l AS DOUBLE)
                         * CAST(tt.s_t - sp.s_l AS DOUBLE)
                         / (tt.n_t - sp.n_l) END AS gain
      FROM split sp JOIN ttot tt
        ON tt.fold = sp.fold AND tt.fid = sp.fid),
    best AS MATERIALIZED (
      SELECT fold, fid, thr,
             CASE WHEN n_l = 0 THEN 0 ELSE s_l // n_l END AS lv,
             CASE WHEN n_t - n_l = 0 THEN 0
                  ELSE (s_t - s_l) // (n_t - n_l) END AS rv
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY fold
                ORDER BY gain DESC, fid ASC, thr ASC) = 1),
    testmse AS (
      SELECT b.fold, count(*) AS n_test,
             sum((e.y - CASE WHEN (CASE b.fid WHEN 1 THEN e.f1
                                   WHEN 2 THEN e.f2 ELSE e.f3 END) <= b.thr
                             THEN b.lv ELSE b.rv END)
                 * (e.y - CASE WHEN (CASE b.fid WHEN 1 THEN e.f1
                                     WHEN 2 THEN e.f2 ELSE e.f3 END)
                               <= b.thr
                               THEN b.lv ELSE b.rv END)) AS sse
      FROM base e JOIN best b ON e.fold = b.fold GROUP BY 1),
    trainmse AS (
      SELECT b.fold, count(*) AS n_train,
             sum((e.y - CASE WHEN (CASE b.fid WHEN 1 THEN e.f1
                                   WHEN 2 THEN e.f2 ELSE e.f3 END) <= b.thr
                             THEN b.lv ELSE b.rv END)
                 * (e.y - CASE WHEN (CASE b.fid WHEN 1 THEN e.f1
                                     WHEN 2 THEN e.f2 ELSE e.f3 END)
                               <= b.thr
                               THEN b.lv ELSE b.rv END)) AS sse
      FROM base e JOIN best b ON e.fold != b.fold GROUP BY 1)
    SELECT CAST(b.fold AS DOUBLE) AS fold_d,
           CAST(b.fid AS DOUBLE) AS fid_d,
           CAST(b.thr AS DOUBLE) AS thr_d,
           CAST(b.lv AS DOUBLE) AS lv_cents_d,
           CAST(b.rv AS DOUBLE) AS rv_cents_d,
           CAST(te.n_test AS DOUBLE) AS n_test_d,
           CAST(te.sse // te.n_test AS DOUBLE) AS test_mse_centi2_d,
           CAST(tr.sse // tr.n_train AS DOUBLE) AS train_mse_centi2_d
    FROM best b JOIN testmse te ON te.fold = b.fold
    JOIN trainmse tr ON tr.fold = b.fold
"""


@register("stump_cv_events", _STUMP_CV_ORACLE)
def q_stump_cv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated decision stump (the generalization check
    the in-engine trainer family lacked): md5 hash folds, per fold an
    SSE-optimal stump fit on the OTHER four folds, evaluated on the
    held-out fold. The scale trick is the FOLD-COMPLEMENT histogram:
    one pass builds per-(fold, feature, value) count/sum cells, and
    each fold's training histogram is totals minus its own cells — so
    5-fold CV costs ONE data scan + tiny cell algebra instead of five
    re-scans, with no window, no collect, and the threshold grid
    DISTINCT'd (the r8 grid-duplication lesson). Gains replay the gbdt
    stump's exact double chain; leaves are truncated integer means;
    squared test/train errors accumulate in DECIMAL(38,0)/HUGEINT.
    Argmax per fold is max_by over struct(gain, -fid, -thr) (Spark) ==
    QUALIFY (gain DESC, fid, thr) (DuckDB)."""
    ev = _t(spark, sf_dir, "events")
    base = (
        # ts guard: f2/f3 divide a datediff from the 2024-01-01 epoch;
        # div/% diverge cross-engine on negatives (ADVICE r10)
        ev.where(
            F.col("value").isNotNull()
            & (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        )
        .select(
            text._hash_bucket(
                F.col("event_id"), salt="cv", mod=5
            ).alias("fold"),
            F.expr(
                "CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)"
            ).alias("y"),
            F.hour("ts").cast("long").alias("f1"),
            F.expr(
                "CAST(datediff(date_trunc('day', ts),"
                " TIMESTAMP '2024-01-01') % 7 AS BIGINT)"
            ).alias("f2"),
            F.expr(
                "CAST(datediff(date_trunc('day', ts),"
                " TIMESTAMP '2024-01-01') AS BIGINT)"
            ).alias("f3"),
        )
        .transform(sizing.materialize, "stump cv rows")
    )
    feat = base.selectExpr(
        "fold", "y", "stack(3, 1L, f1, 2L, f2, 3L, f3) AS (fid, v)"
    )
    hist = (
        feat.groupBy("fold", "fid", "v")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("y").alias("s"))
        .transform(sizing.materialize, "stump cv histogram")
    )
    tot = hist.groupBy("fid", "v").agg(
        F.sum("c").alias("tc"), F.sum("s").alias("ts_")
    )
    folds = spark.range(5).select(F.col("id").alias("fold"))
    trainhist = (
        tot.crossJoin(F.broadcast(folds))
        .join(hist, ["fold", "fid", "v"], "left")
        .select(
            "fold",
            "fid",
            "v",
            (F.col("tc") - F.coalesce(F.col("c"), F.lit(0))).alias("c"),
            (F.col("ts_") - F.coalesce(F.col("s"), F.lit(0))).alias("s"),
        )
        .transform(sizing.materialize, "stump cv complement histogram")
    )
    ttot = trainhist.groupBy("fold", "fid").agg(
        F.sum("c").alias("n_t"), F.sum("s").alias("s_t")
    )
    bounds = tot.groupBy("fid").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    grid = (
        bounds.crossJoin(
            F.broadcast(spark.range(1, 16).select(F.col("id").alias("j")))
        )
        .select("fid", F.expr("lo + ((hi - lo) * j) div 16").alias("thr"))
        .distinct()
    )
    split = (
        grid.join(trainhist, "fid")
        .groupBy("fold", "fid", "thr")
        .agg(
            F.sum(
                F.when(F.col("v") <= F.col("thr"), F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("n_l"),
            F.sum(
                F.when(F.col("v") <= F.col("thr"), F.col("s")).otherwise(
                    F.lit(0)
                )
            ).alias("s_l"),
        )
    )
    scored = split.join(ttot, ["fold", "fid"]).withColumn(
        "gain",
        F.expr(
            "CASE WHEN n_l = 0 OR n_t - n_l = 0 THEN CAST(-1 AS DOUBLE)"
            " ELSE CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l"
            " + CAST(s_t - s_l AS DOUBLE) * CAST(s_t - s_l AS DOUBLE)"
            " / (n_t - n_l) END"
        ),
    )
    best = (
        scored.groupBy("fold")
        .agg(
            F.expr(
                "max_by(struct(fid, thr, n_l, s_l, n_t, s_t),"
                " struct(gain, -fid, -thr))"
            ).alias("b")
        )
        .select(
            "fold",
            F.col("b.fid").alias("fid"),
            F.col("b.thr").alias("thr"),
            F.expr(
                "CASE WHEN b.n_l = 0 THEN 0L ELSE b.s_l div b.n_l END"
            ).alias("lv"),
            F.expr(
                "CASE WHEN b.n_t - b.n_l = 0 THEN 0L"
                " ELSE (b.s_t - b.s_l) div (b.n_t - b.n_l) END"
            ).alias("rv"),
        )
        # .limit pins logical maxRows for the non-equi train join below
        # (5 folds by construction; the plan lint needs the bound). NOT
        # checkpointed: a localCheckpoint would erase maxRows (LogicalRDD),
        # and the triple re-read only re-runs tiny cell algebra over the
        # checkpointed hist/trainhist frames.
        .limit(5)
    )
    bb = best.select(
        F.col("fold").alias("bfold"), "fid", "thr", "lv", "rv"
    )
    pred = (
        "CASE WHEN (CASE fid WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END)"
        " <= thr THEN lv ELSE rv END"
    )
    sse = (
        f"sum(CAST((y - {pred}) * (y - {pred}) AS DECIMAL(38,0)))"
    )
    testmse = (
        base.join(F.broadcast(bb), F.col("fold") == F.col("bfold"))
        .groupBy("bfold")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.expr(sse).alias("sse_te"),
        )
    )
    trainmse = (
        base.join(F.broadcast(bb), F.col("fold") != F.col("bfold"))
        .groupBy("bfold")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.expr(sse).alias("sse_tr"),
        )
    )
    return (
        bb.join(testmse, "bfold")
        .join(trainmse, "bfold")
        .select(
            F.col("bfold").cast("double").alias("fold_d"),
            F.col("fid").cast("double").alias("fid_d"),
            F.col("thr").cast("double").alias("thr_d"),
            F.col("lv").cast("double").alias("lv_cents_d"),
            F.col("rv").cast("double").alias("rv_cents_d"),
            F.col("n_test").cast("double").alias("n_test_d"),
            F.expr("CAST(sse_te div n_test AS DOUBLE)").alias(
                "test_mse_centi2_d"
            ),
            F.expr("CAST(sse_tr div n_train AS DOUBLE)").alias(
                "train_mse_centi2_d"
            ),
        )
    )


# --------------------------------------------------------------------------
# Association rules over market baskets (confidence + lift, integer ppm)
# --------------------------------------------------------------------------

_RULES_ORACLE = """
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    pc AS MATERIALIZED (
      SELECT l_partkey, count(*) AS n_p FROM op GROUP BY 1),
    pairs AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
      FROM op a JOIN op b ON b.l_orderkey = a.l_orderkey
                         AND b.l_partkey > a.l_partkey
      GROUP BY 1, 2),
    tri AS MATERIALIZED (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
             count(*) AS n_abc
      FROM op a
      JOIN op b ON b.l_orderkey = a.l_orderkey
                AND b.l_partkey > a.l_partkey
      JOIN op c ON c.l_orderkey = a.l_orderkey
                AND c.l_partkey > b.l_partkey
      GROUP BY 1, 2, 3 HAVING count(*) >= 2),
    rules AS (
      SELECT p1 AS ant_a, p2 AS ant_b, p3 AS cons, n_abc FROM tri
      UNION ALL SELECT p1, p3, p2, n_abc FROM tri
      UNION ALL SELECT p2, p3, p1, n_abc FROM tri),
    scored AS (
      SELECT r.ant_a, r.ant_b, r.cons, r.n_abc, p.n_ab,
             (r.n_abc * 1000000) // p.n_ab AS conf_ppm,
             (((r.n_abc * 1000000) // p.n_ab) * n_orders) // pc.n_p
               AS lift_ppm
      FROM rules r
      JOIN pairs p ON p.pa = r.ant_a AND p.pb = r.ant_b
      JOIN pc ON pc.l_partkey = r.cons
      CROSS JOIN n)
    SELECT ant_a, ant_b, cons,
           CAST(n_abc AS DOUBLE) AS n_abc_d,
           CAST(n_ab AS DOUBLE) AS n_ab_d,
           CAST(conf_ppm AS DOUBLE) AS conf_ppm_d,
           CAST(lift_ppm AS DOUBLE) AS lift_ppm_d
    FROM scored
    ORDER BY conf_ppm DESC, lift_ppm DESC, ant_a, ant_b, cons LIMIT 20
"""


@register("association_rules_copurchase", _RULES_ORACLE)
def q_association_rules_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Association rules {a,b} -> c mined from the frequent 3-itemsets
    (Agrawal & Srikant 1994, the rung above frequent_triples): each
    support>=2 triple emits its three antecedent-pair orientations;
    confidence = sup(abc)/sup(ab) and lift = confidence·N/sup(c), both
    as two-step integer ppm divisions (conf_ppm first — keeps every
    intermediate <= n_orders·1e6, overflow-safe at any SF — then
    lift_ppm from it; identical truncation order on both engines).
    Scale shape: the triple/pair stages are basket-bounded within-order
    self-joins (<= C(7,2|3) per order), rules are 3x the triple count,
    and the supports attach by broadcast-size equi-joins; top-20 via
    TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    pc = op.groupBy(F.col("l_partkey").alias("cons")).agg(
        F.count(F.lit(1)).alias("n_p")
    )
    b = op.select(
        F.col("l_orderkey").alias("__ok1"), F.col("l_partkey").alias("p2")
    )
    c = op.select(
        F.col("l_orderkey").alias("__ok2"), F.col("l_partkey").alias("p3")
    )
    pairs = (
        op.join(
            b,
            (F.col("l_orderkey") == F.col("__ok1"))
            & (F.col("l_partkey") < F.col("p2")),
        )
        .groupBy(F.col("l_partkey").alias("pa"), F.col("p2").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    tri = (
        op.join(
            b,
            (F.col("l_orderkey") == F.col("__ok1"))
            & (F.col("l_partkey") < F.col("p2")),
        )
        .join(
            c,
            (F.col("l_orderkey") == F.col("__ok2"))
            & (F.col("p2") < F.col("p3")),
        )
        .groupBy(F.col("l_partkey").alias("p1"), "p2", "p3")
        .agg(F.count(F.lit(1)).alias("n_abc"))
        .where(F.col("n_abc") >= 2)
    )
    rules = (
        tri.select(
            F.col("p1").alias("ant_a"), F.col("p2").alias("ant_b"),
            F.col("p3").alias("cons"), "n_abc",
        )
        .unionAll(
            tri.select(
                F.col("p1").alias("ant_a"), F.col("p3").alias("ant_b"),
                F.col("p2").alias("cons"), "n_abc",
            )
        )
        .unionAll(
            tri.select(
                F.col("p2").alias("ant_a"), F.col("p3").alias("ant_b"),
                F.col("p1").alias("cons"), "n_abc",
            )
        )
    )
    scored = (
        rules.join(
            pairs,
            (F.col("ant_a") == F.col("pa"))
            & (F.col("ant_b") == F.col("pb")),
        )
        .join(pc, "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ant_a", "ant_b", "cons", "n_abc", "n_ab",
            F.expr("(n_abc * 1000000L) div n_ab").alias("conf_ppm"),
            F.expr(
                "(((n_abc * 1000000L) div n_ab) * n_orders) div n_p"
            ).alias("lift_ppm"),
        )
    )
    return (
        scored.orderBy(
            F.col("conf_ppm").desc(), F.col("lift_ppm").desc(),
            "ant_a", "ant_b", "cons",
        )
        .limit(20)
        .select(
            "ant_a", "ant_b", "cons",
            F.col("n_abc").cast("double").alias("n_abc_d"),
            F.col("n_ab").cast("double").alias("n_ab_d"),
            F.col("conf_ppm").cast("double").alias("conf_ppm_d"),
            F.col("lift_ppm").cast("double").alias("lift_ppm_d"),
        )
    )


# --------------------------------------------------------------------------
# User-retention cohort matrix
# --------------------------------------------------------------------------

_RETENTION_ORACLE = """
    WITH base AS MATERIALIZED (
      SELECT user_id,
             datediff('day', TIMESTAMP '2024-01-01',
                      date_trunc('day', ts)) // 7 AS wk
      FROM events
      WHERE user_id IS NOT NULL AND ts >= TIMESTAMP '2024-01-01'
      GROUP BY 1, 2),
    coh AS MATERIALIZED (
      SELECT user_id, min(wk) AS cwk FROM base GROUP BY 1),
    sz AS (SELECT cwk, count(*) AS n0 FROM coh GROUP BY 1),
    act AS (
      SELECT c.cwk, b.wk - c.cwk AS offs, count(*) AS n_active
      FROM base b JOIN coh c USING (user_id) GROUP BY 1, 2)
    SELECT CAST(a.cwk AS DOUBLE) AS cohort_week_d,
           CAST(a.offs AS DOUBLE) AS week_offset_d,
           CAST(a.n_active AS DOUBLE) AS n_active_d,
           CAST(s.n0 AS DOUBLE) AS cohort_size_d,
           CAST((a.n_active * 1000000) // s.n0 AS DOUBLE)
             AS retention_ppm_d
    FROM act a JOIN sz s ON s.cwk = a.cwk
"""


@register("retention_cohort_matrix", _RETENTION_ORACLE)
def q_retention_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix — the product-analytics triangle:
    users cohorted by their FIRST active week, each later active week
    counted into (cohort_week, week_offset) cells, retention as the
    integer-ppm share of the cohort still active. Offset 0 is the
    cohort size itself (retention_ppm = 1e6), a built-in self-check.
    Scale shape: distinct (user, week) is one user-keyed groupBy, the
    cohort attaches by a co-partitioned equi-join on user_id, and the
    matrix is calendar-bounded (weeks^2/2 cells) at any corpus size.
    The ts >= 2024-01-01 guard pins the week-epoch assumption: Spark's
    `div` truncates toward zero while DuckDB's `//` floors, so a
    NEGATIVE datediff would silently assign weeks differently per
    engine (ADVICE r10) — non-negative operands make them identical."""
    ev = _t(spark, sf_dir, "events")
    base = (
        ev.where(
            F.col("user_id").isNotNull()
            & (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        )
        .select(
            "user_id",
            F.expr(
                "CAST(datediff(date_trunc('day', ts),"
                " TIMESTAMP '2024-01-01') AS BIGINT) div 7"
            ).alias("wk"),
        )
        .distinct()
    )
    coh = base.groupBy("user_id").agg(F.min("wk").alias("cwk"))
    sz = coh.groupBy("cwk").agg(F.count(F.lit(1)).alias("n0"))
    act = (
        base.join(coh, "user_id")
        .groupBy("cwk", (F.col("wk") - F.col("cwk")).alias("offs"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return act.join(sz, "cwk").select(
        F.col("cwk").cast("double").alias("cohort_week_d"),
        F.col("offs").cast("double").alias("week_offset_d"),
        F.col("n_active").cast("double").alias("n_active_d"),
        F.col("n0").cast("double").alias("cohort_size_d"),
        F.expr("CAST((n_active * 1000000L) div n0 AS DOUBLE)").alias(
            "retention_ppm_d"
        ),
    )


# --------------------------------------------------------------------------
# Int8-quantized retrieval (the 4x member of the quantization spectrum)
# --------------------------------------------------------------------------

_INT8_ORACLE = """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sc AS (SELECT vec_id, e,
                  list_max(list_transform(e, x -> abs(x))) AS s
           FROM emb),
    codes AS MATERIALIZED (
      SELECT vec_id, s,
             CASE WHEN s = 0
                  THEN list_transform(e, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(e, x ->
                    CAST(floor(x * CAST(127 AS DOUBLE) / s) AS BIGINT))
             END AS q
      FROM sc),
    qp AS (SELECT vec_id AS query_id, s AS qs, q AS qq
           FROM codes WHERE vec_id < 20),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(qq, (x, i) -> x * c.q[i])) AS dot,
             qs, c.s AS cs
      FROM qp CROSS JOIN codes c WHERE c.vec_id != query_id),
    sc2 AS (
      SELECT query_id, neighbor_id, dot,
             CAST(dot AS DOUBLE) * (qs / CAST(127 AS DOUBLE))
               * (cs / CAST(127 AS DOUBLE)) AS score
      FROM scored),
    ranked AS (
      SELECT query_id, neighbor_id, dot, score,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id ASC) AS INT) AS rnk
      FROM sc2)
    SELECT query_id, neighbor_id, CAST(dot AS DOUBLE) AS int_dot_d,
           score AS score_d, rnk
    FROM ranked WHERE rnk <= 5
"""


@register("int8_quantized_topk", _INT8_ORACLE)
def q_int8_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 max-abs quantized retrieval (similarity.int8_quantize +
    int8_dot_topk) — the 4x-compression middle rung between the binary
    sign-bit codes (32x, Hamming) and full float cosine: integer dot
    products (order-free BIGINT), ONE two-multiply double chain
    de-quantizes per pair for ranking. Probe side broadcasts, corpus
    streams, salted two-level exact top-k — the serve shape shared by
    the whole retrieval family."""
    from ..operators import similarity

    return similarity.int8_dot_topk(_t(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# PIVOT surface: weekly event-type crosstab
# --------------------------------------------------------------------------

_PIVOT_ORACLE = """
    SELECT CAST(datediff('day', TIMESTAMP '2024-01-01',
                 date_trunc('day', ts)) // 7 AS DOUBLE) AS week_d,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS DOUBLE) AS click_d,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS DOUBLE) AS view_d,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS DOUBLE) AS purchase_d,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS DOUBLE) AS signup_d,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS DOUBLE) AS error_d
    FROM events WHERE ts >= TIMESTAMP '2024-01-01' GROUP BY 1
"""


@register("event_type_week_pivot", _PIVOT_ORACLE)
def q_event_type_week_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PIVOT/crosstab relational surface: weekly event counts
    pivoted one column per event type. The pivot VALUES are an explicit
    literal list — Spark's two-phase value-discovery pivot would add a
    driver round-trip and a nondeterministic column order; with pinned
    values the plan is a single map-side-combined aggregation whose
    schema is static at any scale. Absent (week, type) cells coalesce
    to 0 to match the SQL conditional-sum semantics."""
    ev = _t(spark, sf_dir, "events").where(
        # week epoch guard: div vs // diverge on negatives (ADVICE r10)
        F.col("ts") >= F.lit("2024-01-01").cast("timestamp")
    )
    types = ["click", "view", "purchase", "signup", "error"]
    wide = (
        ev.groupBy(
            F.expr(
                "CAST(CAST(datediff(date_trunc('day', ts),"
                " TIMESTAMP '2024-01-01') AS BIGINT) div 7 AS DOUBLE)"
            ).alias("week_d")
        )
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "week_d",
        *[
            F.coalesce(F.col(t), F.lit(0))
            .cast("double")
            .alias(f"{t}_d")
            for t in types
        ],
    )


# --------------------------------------------------------------------------
# Isotonic recalibration of the score bins (minimax PAV, integer ppm)
# --------------------------------------------------------------------------

_ISO_RECAL_ORACLE = """
    WITH g AS MATERIALIZED (
      SELECT least(9, CAST(floor(value / 50.0) AS BIGINT)) AS b,
             count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    segs AS MATERIALIZED (
      SELECT a.b AS i, c.b AS j,
             (sum(m.p) * 1000000) // sum(m.n) AS pooled_ppm
      FROM g a JOIN g c ON c.b >= a.b
      JOIN g m ON m.b >= a.b AND m.b <= c.b
      GROUP BY 1, 2),
    mk AS (
      SELECT k.b AS k, s.i, min(s.pooled_ppm) AS m
      FROM segs s JOIN g k ON s.i <= k.b AND s.j >= k.b
      GROUP BY 1, 2),
    fit AS (SELECT k, max(m) AS fitted_ppm FROM mk GROUP BY 1)
    SELECT CAST(g.b AS DOUBLE) AS bin_d,
           CAST(g.n AS DOUBLE) AS n_d,
           CAST((g.p * 1000000) // g.n AS DOUBLE) AS acc_ppm_d,
           CAST(f.fitted_ppm AS DOUBLE) AS fitted_ppm_d
    FROM g JOIN fit f ON f.k = g.b
"""




def _isotonic_fit_frames(spark: SparkSession, sf_dir: str):
    """Shared isotonic-fit frames: the <= 10 bin cells (b, n, p) and the
    minimax-PAV fitted ppm per bin (k, fitted_ppm) — reused by the
    per-bin recalibration query and the before/after ECE summary."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.groupBy(
        F.least(F.lit(9), F.floor(F.col("value") / 50.0))
        .cast("long")
        .alias("b")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("p"),
    )
    a = g.select(F.col("b").alias("i"))
    c = g.select(F.col("b").alias("j"))
    m = g.select(F.col("b").alias("mb"), "n", "p")
    segs = (
        a.join(F.broadcast(c), F.col("j") >= F.col("i"))
        .join(
            F.broadcast(m),
            (F.col("mb") >= F.col("i")) & (F.col("mb") <= F.col("j")),
        )
        .groupBy("i", "j")
        .agg(
            F.expr("(sum(p) * 1000000L) div sum(n)").alias("pooled_ppm")
        )
    )
    k = g.select(F.col("b").alias("k"))
    mk = (
        segs.join(
            F.broadcast(k),
            (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")),
        )
        .groupBy("k", "i")
        .agg(F.min("pooled_ppm").alias("m"))
    )
    fit = mk.groupBy("k").agg(F.max("m").alias("fitted_ppm"))
    return g, fit


@register("isotonic_recalibration_bins", _ISO_RECAL_ORACLE)
def q_isotonic_recalibration_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic (PAV) recalibration of the value-as-score reliability
    bins — the calibration-family capstone above ECE/Brier: the
    monotone step function closest to the observed per-bin positive
    rates, via the minimax characterization fitted(k) = max_{i<=k}
    min_{j>=k} pooled(i..j) (Ayer et al. 1955) instead of the
    sequential pool-adjacent-violators sweep. Pooled rates are floored
    integer ppm of exact BIGINT segment sums, and the minimax of ANY
    fixed matrix is monotone in k, so flooring preserves monotonicity
    and both engines compute the identical fit. Scale shape: one
    map-combined aggregation to <= 10 bins, then O(B^3) pure cell
    algebra on broadcast frames — data-size-independent (the
    histogram-of-counts discipline). Absent bins are absent on both
    sides (the fit runs over present bins in score order)."""
    g, fit = _isotonic_fit_frames(spark, sf_dir)
    return g.join(fit, F.col("k") == F.col("b")).select(
        F.col("b").cast("double").alias("bin_d"),
        F.col("n").cast("double").alias("n_d"),
        F.expr("CAST((p * 1000000L) div n AS DOUBLE)").alias("acc_ppm_d"),
        F.col("fitted_ppm").cast("double").alias("fitted_ppm_d"),
    )


_ECE_RECAL_ORACLE = """
    WITH g AS MATERIALIZED (
      SELECT least(9, CAST(floor(value / 50.0) AS BIGINT)) AS b,
             count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
             sum(CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)) AS sc
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    segs AS MATERIALIZED (
      SELECT a.b AS i, c.b AS j,
             (sum(m.p) * 1000000) // sum(m.n) AS pooled_ppm
      FROM g a JOIN g c ON c.b >= a.b
      JOIN g m ON m.b >= a.b AND m.b <= c.b
      GROUP BY 1, 2),
    mk AS (
      SELECT k.b AS k, s.i, min(s.pooled_ppm) AS m
      FROM segs s JOIN g k ON s.i <= k.b AND s.j >= k.b
      GROUP BY 1, 2),
    fit AS (SELECT k, max(m) AS fitted_ppm FROM mk GROUP BY 1),
    per AS (
      SELECT g.n,
             (g.p * 1000000) // g.n AS acc_ppm,
             (g.sc * 20) // g.n AS conf_ppm,
             f.fitted_ppm
      FROM g JOIN fit f ON f.k = g.b)
    SELECT CAST(sum(n) AS DOUBLE) AS n_total_d,
           CAST(sum(n * abs(acc_ppm - conf_ppm)) // sum(n) AS DOUBLE)
             AS ece_before_ppm_d,
           CAST(sum(n * abs(acc_ppm - fitted_ppm)) // sum(n) AS DOUBLE)
             AS ece_after_ppm_d,
           CAST(max(abs(acc_ppm - conf_ppm)) AS DOUBLE) AS mce_before_ppm_d,
           CAST(max(abs(acc_ppm - fitted_ppm)) AS DOUBLE) AS mce_after_ppm_d
    FROM per
"""


@register("ece_after_isotonic_recalibration", _ECE_RECAL_ORACLE)
def q_ece_after_isotonic_recalibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The payoff number for the isotonic recalibration: expected and
    max calibration error BEFORE (raw mean-score confidence, the
    verified ece_calibration_error arithmetic) vs AFTER replacing each
    bin's confidence with its monotone PAV fit — all integer ppm over
    the same <= 10 cells, one summary row. The isotonic fit minimizes
    the n-weighted squared gap to the observed rates among monotone
    functions, so ece_after <= ece_before on any data where the raw
    scores are mis-calibrated (pytest pins the inequality)."""
    g, fit = _isotonic_fit_frames(spark, sf_dir)
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    gs = ev.groupBy(
        F.least(F.lit(9), F.floor(F.col("value") / 50.0))
        .cast("long")
        .alias("b2")
    ).agg(
        F.sum(
            F.expr("CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)")
        ).alias("sc")
    )
    per = (
        g.join(fit, F.col("k") == F.col("b"))
        .join(F.broadcast(gs), F.col("b2") == F.col("b"))
        .select(
            "n",
            F.expr("(p * 1000000L) div n").alias("acc_ppm"),
            F.expr("(sc * 20) div n").alias("conf_ppm"),
            "fitted_ppm",
        )
    )
    return per.agg(
        F.sum("n").cast("double").alias("n_total_d"),
        F.expr(
            "CAST(sum(n * abs(acc_ppm - conf_ppm)) div sum(n) AS DOUBLE)"
        ).alias("ece_before_ppm_d"),
        F.expr(
            "CAST(sum(n * abs(acc_ppm - fitted_ppm)) div sum(n) AS DOUBLE)"
        ).alias("ece_after_ppm_d"),
        F.max(F.abs(F.col("acc_ppm") - F.col("conf_ppm")))
        .cast("double")
        .alias("mce_before_ppm_d"),
        F.max(F.abs(F.col("acc_ppm") - F.col("fitted_ppm")))
        .cast("double")
        .alias("mce_after_ppm_d"),
    )


@register("streaming_pivot_ingest", _PIVOT_ORACLE)
def q_streaming_pivot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly event-type crosstab maintained CONTINUOUSLY at ingest:
    the pivot's conditional counts are plain additive sums, so the
    whole crosstab is ONE complete-mode streaming aggregation keyed by
    week (state = weeks x 5 integers, calendar-bounded at any corpus
    size) and the batch oracle applies verbatim. Uses the CASE-sum
    formulation directly — Spark's relational pivot() is unsupported on
    streaming frames, and with pinned literal values the two forms are
    the same plan shape anyway."""
    from .q04_streamksql import _STREAM_SEQ, _replay_events

    stream = _replay_events(spark, sf_dir).where(
        # same week-epoch guard as the batch pivot (stateless filter)
        F.col("ts") >= F.lit("2024-01-01").cast("timestamp")
    )
    types = ["click", "view", "purchase", "signup", "error"]
    wide = stream.groupBy(
        F.expr(
            "CAST(CAST(datediff(date_trunc('day', ts),"
            " TIMESTAMP '2024-01-01') AS BIGINT) div 7 AS DOUBLE)"
        ).alias("week_d")
    ).agg(
        *[
            F.sum((F.col("event_type") == t).cast("long")).alias(t)
            for t in types
        ]
    )
    drained = stream_sinks.run_to_memory(
        wide,
        f"reg_stream_pivot_{next(_STREAM_SEQ)}",
        output_mode="complete",
    )
    return drained.select(
        "week_d",
        *[
            F.col(t).cast("double").alias(f"{t}_d")
            for t in types
        ],
    )


# --------------------------------------------------------------------------
# Exact ridge regression (L2 member of the closed-form trainer family)
# --------------------------------------------------------------------------

_RIDGE_ORACLE = """
    WITH daily AS (
      SELECT datediff('day', TIMESTAMP '1995-01-01',
                      date_trunc('day', o_orderdate)) AS t,
             CAST((datediff('day', TIMESTAMP '1970-01-01',
                            date_trunc('day', o_orderdate)) + 3) % 7 >= 5
               AS BIGINT) AS w,
             sum(CAST(floor(o_totalprice * CAST(1000 AS DOUBLE)) AS BIGINT))
               AS y
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(t) AS HUGEINT) AS st,
             CAST(sum(w) AS HUGEINT) AS sw,
             CAST(sum(t * t) AS HUGEINT) + CAST(count(*) AS HUGEINT)
               AS stt,
             CAST(sum(t * w) AS HUGEINT) AS stw,
             CAST(sum(w * w) AS HUGEINT) + CAST(count(*) AS HUGEINT)
               AS sww,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(t * y) AS HUGEINT) AS sty,
             CAST(sum(w * y) AS HUGEINT) AS swy
      FROM daily),
    d AS (
      SELECT n,
        n*(stt*sww - stw*stw) - st*(st*sww - stw*sw)
          + sw*(st*stw - stt*sw) AS det,
        sy*(stt*sww - stw*stw) - st*(sty*sww - stw*swy)
          + sw*(sty*stw - stt*swy) AS det0,
        n*(sty*sww - swy*stw) - sy*(st*sww - stw*sw)
          + sw*(st*swy - sty*sw) AS det1,
        n*(stt*swy - stw*sty) - st*(st*swy - sty*sw)
          + sy*(st*stw - stt*sw) AS det2
      FROM m)
    SELECT CAST(n AS DOUBLE) AS n_days_d,
           CASE WHEN det <= 0 THEN NULL ELSE CAST(
             CASE WHEN det0 >= 0 THEN (det0 * 1000) // det
                  ELSE -((-det0 * 1000) // det) END AS DOUBLE) END
             AS b0_microd_d,
           CASE WHEN det <= 0 THEN NULL ELSE CAST(
             CASE WHEN det1 >= 0 THEN (det1 * 1000) // det
                  ELSE -((-det1 * 1000) // det) END AS DOUBLE) END
             AS b1_microd_per_day_d,
           CASE WHEN det <= 0 THEN NULL ELSE CAST(
             CASE WHEN det2 >= 0 THEN (det2 * 1000) // det
                  ELSE -((-det2 * 1000) // det) END AS DOUBLE) END
             AS b2_microd_weekend_d
    FROM d
"""


@register("ridge_two_factor_revenue", _RIDGE_ORACLE)
def q_ridge_two_factor_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ridge regression (Hoerl & Kennard 1970) — the L2-regularized
    member of the closed-form trainer family: ols_two_factor_revenue's
    3x3 Cramer algebra with lambda = n_days added to the two regressor
    diagonal entries (X'X + lambda*diag(0,1,1); the intercept is
    unpenalized, the standard convention). Folding the data-adaptive
    lambda INTO the stt/sww moments keeps the determinant expressions
    byte-identical to the verified OLS forms, every term a 128-bit
    integer, coefficients exact micro-dollar truncations. One day-level
    aggregate + a 1-row moment fold — nothing scales with row count
    past the first groupBy."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")),
            F.lit("1995-01-01").cast("timestamp"),
        ).alias("t"),
        F.expr(
            "CAST((datediff(date_trunc('day', o_orderdate),"
            " DATE '1970-01-01') + 3) % 7 >= 5 AS BIGINT)"
        ).alias("w"),
    ).agg(
        F.expr(
            "sum(CAST(floor(o_totalprice * CAST(1000 AS DOUBLE))"
            " AS BIGINT))"
        ).alias("y")
    )
    m = daily.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(sum(t) AS DECIMAL(38,0))").alias("st"),
        F.expr("CAST(sum(w) AS DECIMAL(38,0))").alias("sw"),
        F.expr(
            "CAST(sum(t * t) AS DECIMAL(38,0))"
            " + CAST(count(*) AS DECIMAL(38,0))"
        ).alias("stt"),
        F.expr("CAST(sum(t * w) AS DECIMAL(38,0))").alias("stw"),
        F.expr(
            "CAST(sum(w * w) AS DECIMAL(38,0))"
            " + CAST(count(*) AS DECIMAL(38,0))"
        ).alias("sww"),
        F.expr("CAST(sum(y) AS DECIMAL(38,0))").alias("sy"),
        F.expr("CAST(sum(t * y) AS DECIMAL(38,0))").alias("sty"),
        F.expr("CAST(sum(w * y) AS DECIMAL(38,0))").alias("swy"),
    )
    d = m.select(
        "n",
        F.expr(
            "n*(stt*sww - stw*stw) - st*(st*sww - stw*sw)"
            " + sw*(st*stw - stt*sw)"
        ).alias("det"),
        F.expr(
            "sy*(stt*sww - stw*stw) - st*(sty*sww - stw*swy)"
            " + sw*(sty*stw - stt*swy)"
        ).alias("det0"),
        F.expr(
            "n*(sty*sww - swy*stw) - sy*(st*sww - stw*sw)"
            " + sw*(st*swy - sty*sw)"
        ).alias("det1"),
        F.expr(
            "n*(stt*swy - stw*sty) - st*(st*swy - sty*sw)"
            " + sy*(st*stw - stt*sw)"
        ).alias("det2"),
    )

    def coef(num: str) -> str:
        return (
            f"CASE WHEN det <= 0 THEN NULL ELSE CAST("
            f"CASE WHEN {num} >= 0 THEN ({num} * 1000) div det "
            f"ELSE -((-{num} * 1000) div det) END AS DOUBLE) END"
        )

    return d.select(
        F.col("n").cast("double").alias("n_days_d"),
        F.expr(coef("det0")).alias("b0_microd_d"),
        F.expr(coef("det1")).alias("b1_microd_per_day_d"),
        F.expr(coef("det2")).alias("b2_microd_weekend_d"),
    )

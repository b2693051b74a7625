"""Remaining TPC-H shapes + round-5/6 analytics additions.

Split from the monolithic registry (round 7, VERDICT r6 #8); the
@register calls run at package import in the original registration
order, so ``queries()`` is unchanged.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _scratch_dir, _t, register  # noqa: F401
from .q02_textdedup import _DECON_ORACLE, _MINHASH_COLS  # noqa: F401
from .q05_composite import _CLEAN_CORPUS_ORACLE  # noqa: F401
from .q06_sketchseries import _DOCS_ORACLE  # noqa: F401
from .q07_layoutcorpus import _bpe_pack_oracle  # noqa: F401

# --------------------------------------------------------------------------
# Remaining TPC-H query shapes (SURVEY.md §2.9): Q6/Q8/Q9/Q10/Q12/Q13/Q14/
# Q17/Q19/Q20 analogs over the driver's star schema (no partsupp table —
# Q9/Q20 substitute lineitem-derived part↔supplier associations, same
# subquery nesting). These round out the subquery/predicate families the
# round-1 verdict named as the open stretch (VERDICT.md item 8).
# --------------------------------------------------------------------------


def _doc_quality_oracle() -> str:
    """Stitch the three verified quality signals (repetition metrics,
    bigram LM fluency, lang-ID agreement) into one weighted score — each
    rides as a nested derived-table subquery over its own registered
    oracle, so the composite needs no SQL duplication."""
    rep = _REGISTRY["repetition_stats"].oracle
    lm = _REGISTRY["ngram_lm_score"].oracle
    lid = _REGISTRY["lang_id_ngram"].oracle
    assert rep and lm and lid
    return f"""
    WITH rep AS (
      SELECT doc_id, distinct_word_frac, top_word_frac, dup_bigram_frac
      FROM ({rep}) q1),
    lm AS (SELECT doc_id, avg_cond_prob FROM ({lm}) q2),
    lid AS (SELECT doc_id, lang, predicted_lang FROM ({lid}) q3),
    micros AS (
      SELECT rep.doc_id,
             CAST(round(distinct_word_frac * 1000000, 0) AS BIGINT) AS dwf,
             CAST(round(top_word_frac * 1000000, 0) AS BIGINT) AS twf,
             CAST(round(dup_bigram_frac * 1000000, 0) AS BIGINT) AS dbf,
             CAST(round(avg_cond_prob * 1000000, 0) AS BIGINT) AS acp,
             (predicted_lang = lang) AS lang_agrees
      FROM rep JOIN lm USING (doc_id) JOIN lid USING (doc_id))
    SELECT doc_id,
           CAST(3 * dwf + 2 * (1000000 - twf) + 2 * (1000000 - dbf)
                + 2 * acp + CASE WHEN lang_agrees THEN 1000000 ELSE 0 END
             AS DOUBLE) / 10000000 AS quality_score,
           lang_agrees
    FROM micros
    """


@register("doc_quality_score", _doc_quality_oracle())
def q_doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined document quality score — the C4/Gopher-style multi-signal
    filter a curation pipeline thresholds on: vocabulary diversity, top-
    word and duplicate-bigram repetition penalties, bigram LM fluency,
    and lang-ID agreement, weighted into one number. Each signal is an
    independently-oracled operator whose ROUNDED outputs join narrowly
    on doc_id, so the weighted sum is identical cross-engine and the
    stitched oracle hash-checks the whole composition.

    Shared-scan shape (VERDICT r8 #6): the repetition, LM and lang-ID
    stages all read one (doc_id, lang, text, tokens) frame (lang-ID reads
    its text: its unit is char trigrams, not words). The frame is not
    materialized: at sf0.1 recomputing it per stage measured no slower
    than a lineage cut."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    shared = docs.withColumn(
        "t", text.tokens_col(F.col("text"))
    )
    rep = text.repetition_stats(shared, tokens="t").select(
        "doc_id", "distinct_word_frac", "top_word_frac", "dup_bigram_frac"
    )
    lm = text.ngram_lm_score(shared, tokens="t").select(
        "doc_id", "avg_cond_prob"
    )
    lid = text.lang_id_ngram(shared.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", "predicted_lang"
    )
    joined = rep.join(lm, "doc_id").join(lid, "doc_id")
    agree = F.col("predicted_lang") == F.col("lang")

    # EXACT integer micro-units, no final round(): the weighted sum of
    # 6-dp components lands on x.xxxxxx5 half-way points constantly, and
    # Spark rounds the double's SHORTEST decimal repr half-up while
    # DuckDB rounds its exact binary value — a genuine cross-engine
    # divergence (doc 159 measured it). Integer arithmetic + one shared
    # division sidesteps rounding entirely.
    def mic(c):
        return F.round(F.col(c) * 1_000_000, 0).cast("long")

    su = (
        3 * mic("distinct_word_frac")
        + 2 * (F.lit(1_000_000) - mic("top_word_frac"))
        + 2 * (F.lit(1_000_000) - mic("dup_bigram_frac"))
        + 2 * mic("avg_cond_prob")
        + F.when(agree, 1_000_000).otherwise(0)
    )
    return joined.select(
        "doc_id",
        (su.cast("double") / 10_000_000).alias("quality_score"),
        agree.alias("lang_agrees"),
    )


@register(
    "forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.02 AND l_discount <= 0.06
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — pure scan-filter-aggregate; every predicate reaches
    the parquet reader (PushedFilters), three columns read, one scalar out."""
    return tpch.forecast_revenue(_t(spark, sf_dir, "lineitem"))


@register(
    "market_share",
    """
    WITH agg AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             round(sum(CASE WHEN n_s.n_name = 'NATION_1'
                            THEN l.l_extendedprice * (1 - l.l_discount)
                            ELSE 0 END), 4) AS nation_volume,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS total_volume
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n_c ON c.c_nationkey = n_c.n_nationkey
      JOIN region r ON n_c.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n_s ON s.s_nationkey = n_s.n_nationkey
      WHERE r.r_name = 'AMERICA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1
    )
    SELECT o_year, nation_volume, total_volume,
           round(nation_volume / total_volume, 6) AS mkt_share
    FROM agg
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — market share as conditional-sum / total-sum out of
    ONE aggregation; the region restriction is a broadcast semi-join probe."""
    return tpch.market_share(
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
    )


@register(
    "product_profit",
    """
    SELECT n.n_name AS nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)
                     - 0.1 * p.p_retailprice * l.l_quantity), 4) AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit per (supplier nation, ship year); the part
    filter prunes before the broadcast probe (no partsupp in the testdata,
    cost = 0.1 × retailprice × quantity)."""
    return tpch.product_profit(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


@register(
    "returned_item_topk",
    """
    WITH rev AS (
      SELECT o.o_custkey,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1
      ORDER BY revenue DESC, o_custkey
      LIMIT 20
    )
    SELECT c.c_custkey, c.c_name, rev.revenue, c.c_acctbal,
           n.n_name AS nation, c.c_mktsegment
    FROM rev
    JOIN customer c ON rev.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def q_returned_item_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — top-20 customers by returned-item lost revenue;
    executed as TakeOrderedAndProject on (rounded revenue, custkey)."""
    return tpch.returned_item_topk(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


@register(
    "shipping_delay_priority",
    """
    SELECT CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY 1
    """,
)
def q_shipping_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — CASE-in-aggregate over the order join, lateness as
    the non-equi intra-row predicate (testdata has no shipmode/commitdate)."""
    return tpch.shipping_delay_priority(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@register(
    "promo_revenue",
    """
    WITH agg AS (
      SELECT round(sum(CASE WHEN p.p_type = 'PROMO'
                            THEN l.l_extendedprice * (1 - l.l_discount)
                            ELSE 0 END), 4) AS promo_rev,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS total_rev
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1996-02-01'
    )
    SELECT round(100.0 * promo_rev / total_rev, 6) AS promo_revenue_pct
    FROM agg
    """,
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promo revenue share for one month; numerator and
    denominator from one aggregation, ratio over the rounded sums."""
    return tpch.promo_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@register(
    "order_count_histogram",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust
    GROUP BY 1
    """,
)
def q_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — customer distribution by order count including the
    zero bucket (LEFT join + count(non-null) + second groupBy)."""
    return tpch.order_count_histogram(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register(
    "small_qty_revenue",
    """
    WITH pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
    li AS (
      SELECT l.* FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM pk)
    ),
    avg_qty AS (
      SELECT l_partkey AS ap_key, avg(l_quantity) AS avg_qty
      FROM li GROUP BY 1
    )
    SELECT round(sum(li.l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM li JOIN avg_qty ON li.l_partkey = avg_qty.ap_key
    WHERE li.l_quantity < 0.2 * avg_qty.avg_qty
    """,
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar AVG decorrelated to a per-part
    aggregate joined back; quantities are integral doubles so the 0.2×avg
    threshold is bit-exact cross-engine."""
    return tpch.small_qty_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@register(
    "disjunctive_revenue",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 40
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs predicate referencing both join sides;
    one broadcast hash join, the disjunction stays a single post-join
    filter (no union-of-joins blowup)."""
    return tpch.disjunctive_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@register(
    "excess_part_suppliers",
    """
    WITH pk AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
    per_pair AS (
      SELECT l_partkey, l_suppkey,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate < TIMESTAMP '1997-01-01'
                      THEN l_quantity ELSE 0 END) AS year_qty,
             sum(l_quantity) AS total_qty
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM pk)
      GROUP BY 1, 2
    ),
    qualifying AS (
      SELECT DISTINCT l_suppkey FROM per_pair
      WHERE year_qty > 0.5 * total_qty
    )
    SELECT s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM qualifying)
    """,
)
def q_excess_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — two-level nested correlated IN: suppliers whose
    one-year shipped volume of a promo part exceeds half their all-time
    volume; both aggregates from one conditional-sum scan."""
    return tpch.excess_part_suppliers(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
    )


def _curation_oracle() -> str:
    """Compose the three independently-verified stage oracles into the
    full curation pass: clean survivors (over the train split) minus
    contaminated docs, packed by real BPE token counts. Substitutions are
    asserted (the streaming_late_data_policy lesson: a silent replace()
    no-op fails the driver far from the cause)."""
    clean = _CLEAN_CORPUS_ORACLE.format(minhash_cols=_MINHASH_COLS)
    assert clean.count("FROM documents") == 1
    clean_train = clean.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 97 <> 0) documents",
    )
    pack = _bpe_pack_oracle()
    assert pack.count("FROM documents") == 1
    pack_scoped = pack.replace(
        "FROM documents",
        "FROM documents WHERE doc_id IN (SELECT doc_id FROM final_set)",
    ).lstrip()
    assert pack_scoped.startswith("WITH ")
    return f"""
    WITH final_set AS (
      SELECT doc_id FROM ({clean_train}) c
      WHERE doc_id NOT IN (SELECT doc_id FROM ({_DECON_ORACLE}) d)
    ), {pack_scoped[5:]}"""


@register("corpus_curation_pipeline", _curation_oracle())
def q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation pass as one query — what a training-data team
    actually runs nightly: language/quality gates → MinHash-LSH near-dup
    removal (clean_corpus) → benchmark decontamination (4-gram overlap
    with the held-out slice, broadcast) → REAL BPE token accounting →
    salted-shard prefix-sum sequence packing. Every stage is an
    independently-oracled operator; this query pins that they COMPOSE
    exactly — the final (doc_id, shard, n_tokens, pack_id, start_offset)
    layout hash-checks against the three stage oracles stitched into one
    SQL statement. Stage plan shapes are preserved by construction
    (composition is DataFrame-level; Catalyst fuses the scans)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    clean = text.clean_corpus(train)
    contaminated = text.decontaminate(train, bench, n=4)
    # materialize the survivor id SET (one long per doc): `final_docs` feeds
    # BOTH the BPE token accounting and the packing join, and without
    # this the whole clean+decontaminate DAG (itself several corpus
    # passes) executes twice — once per consumer (guide §2.4: reuse the
    # decision frame, recompute only the cheap scan that re-attaches it).
    keep_ids = (
        clean.join(contaminated, "doc_id", "left_anti")
        .select("doc_id")
        .transform(sizing.materialize, "survivor ids, read twice", eager=False)
    )
    # left_semi, not inner: the same rows (keep_ids is a set of distinct
    # doc ids), and sizing.row_bound sees through a semi join to the
    # documents footer, so bpe_tokenize's fan-out sizes itself without a
    # count() that would re-execute the clean+decontaminate DAG (ADVICE r5)
    final_docs = docs.join(keep_ids, "doc_id", "left_semi")
    counts = bpe.bpe_tokenize(final_docs, bpe.FIXED_MERGES)
    # Pack straight off the token-count frame (r15, guide §2.4): the old
    # `final_docs.join(counts)` re-scanned documents + re-attached
    # keep_ids a third time only to restrict ids that bpe_tokenize
    # already restricted — counts' doc_ids are a subset of final_docs'
    # by construction (its input IS final_docs; the groupBy only drops
    # zero-word docs, which the packing oracle's word-split drops too),
    # so the inner join was a provable no-op on rows and pack_sequences
    # reads nothing but (doc_id, token_count).
    return text.pack_sequences(
        counts.select("doc_id", "n_bpe_tokens"),
        token_count=F.col("n_bpe_tokens"),
    )


@register(
    "stratified_sample_documents",
    """
    WITH h AS (
      SELECT doc_id, source,
             ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 7))
               ::UBIGINT::BIGINT AS h
      FROM documents),
    r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
                  AS INTEGER) AS sample_rank
      FROM h)
    SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 50
    """,
)
def q_stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (operators/text.py): the 50
    lowest-(md5, id)-ranked docs per source — the subsampling primitive
    that balances sources before corpus mixing, with no RNG anywhere in
    the plan, so the drawn sample hash-checks exactly across engines and
    is stable under corpus growth (new docs only displace higher
    ranks). The quota-dict sibling holds the corpus_sample_mix slot."""
    return text.stratified_sample_ranked(_t(spark, sf_dir, "documents"))


@register(
    "term_postings_index",
    r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    tok AS (
      SELECT doc_id,
             unnest(list_transform(t, (x, i) ->
               struct_pack(term := x, pos := i - 1))) AS u
      FROM d),
    hit AS (
      SELECT doc_id, u.term AS term, u.pos AS pos FROM tok
      WHERE u.term IN ('spark', 'window', 'join'))
    SELECT term, CAST(doc_id % 4 AS INT) AS shard,
           CAST(count(DISTINCT doc_id) AS DOUBLE) AS df_docs,
           CAST(count(*) AS DOUBLE) AS n_occurrences,
           string_agg(doc_id || ':' || pos, ',' ORDER BY doc_id, pos)
             AS postings
    FROM hit GROUP BY 1, 2
    """,
)
def q_term_postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (operators/text.py): doc-range-sharded
    posting lists for the BM25 demo dictionary — the serving artifact
    behind keyword retrieval, with per-(term, shard) groups bounding a
    hot term's list and the (doc_id, pos)-ordered postings string
    deterministic under any partitioning."""
    return text.term_postings(
        _t(spark, sf_dir, "documents"), ["spark", "window", "join"]
    )


@register(
    "embedding_scale_features",
    """
    WITH comp AS (
      SELECT vec_id, u.pos AS dim_pos, u.x AS x FROM (
        SELECT vec_id,
               unnest(list_transform(CAST(embedding AS DOUBLE[]), (v, i) ->
                 struct_pack(pos := i - 1, x := v))) AS u
        FROM embeddings) q),
    s AS (SELECT dim_pos, count(*) AS n,
                 sum(CAST(x AS DECIMAL(18,9))) AS sm,
                 sum(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9)))
                   AS ss
          FROM comp GROUP BY 1),
    m AS (SELECT dim_pos, CAST(sm AS DOUBLE) / n AS mean,
                 sqrt(CAST(ss AS DOUBLE) / n
                      - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n))
                   AS sd
          FROM s)
    SELECT c.vec_id, CAST(c.dim_pos AS INT) AS dim_pos,
           round((c.x - m.mean) / m.sd, 6) AS scaled
    FROM comp c JOIN m USING (dim_pos) WHERE m.sd > 0
    """,
)
def q_embedding_scale_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature standardization (operators/similarity.py):
    exact-DECIMAL moments per dimension (order-free), one fixed double
    expression for mean/sd that the oracle restates verbatim, sd > 0
    guard against NaN on constant dimensions — the whitening step before
    distance-based embedding ops, hash-checked in exploded scalar
    form."""
    return similarity.scale_features(_t(spark, sf_dir, "embeddings"))


@register(
    "touch_attribution",
    """
    WITH t AS (
      SELECT event_id AS touch_id, user_id, event_type AS touch_type,
             ts AS touch_ts
      FROM events WHERE event_type IN ('view', 'click')),
    b AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value
      FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT b.purchase_id, t.touch_id, b.user_id, t.touch_type,
             t.touch_ts, t.touch_id AS tid, b.value,
             row_number() OVER (PARTITION BY b.purchase_id
                                ORDER BY t.touch_ts, t.touch_id) AS rn,
             count(*) OVER (PARTITION BY b.purchase_id) AS n
      FROM b JOIN t USING (user_id)
      WHERE t.touch_ts < b.purchase_ts
        AND t.touch_ts >= b.purchase_ts - INTERVAL 7 DAY)
    SELECT purchase_id, touch_id, user_id, touch_type,
           CASE WHEN rn = 1 THEN 'first'
                WHEN rn = n THEN 'last'
                ELSE 'mid' END AS touch_role,
           round(value / n, 6) AS attributed_value
    FROM j
    """,
)
def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch revenue attribution — each purchase's value split
    linearly across the user's view/click touchpoints in the 7-day
    lookback, with first/last-touch roles resolved by a deterministic
    (ts, id) rank. The marketing-analytics companion to
    asof_view_attribution (which is single-touch last-view): one
    user-keyed equi-join carries the time predicate, so candidate pairs
    stay bounded by per-user activity — never a time-range cross
    product — and the two windows share one (purchase_id) shuffle."""
    ev = _t(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("touch_ts"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    joined = buys.join(touches, "user_id").filter(
        (F.col("touch_ts") < F.col("purchase_ts"))
        & (
            F.col("touch_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 7 DAYS")
        )
    )
    w = Window.partitionBy("purchase_id").orderBy("touch_ts", "touch_id")
    wn = Window.partitionBy("purchase_id")
    role = (
        F.when(F.col("rn") == 1, F.lit("first"))
        .when(F.col("rn") == F.col("n"), F.lit("last"))
        .otherwise(F.lit("mid"))
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .select(
            "purchase_id",
            "touch_id",
            "user_id",
            "touch_type",
            role.alias("touch_role"),
            F.round(F.col("value") / F.col("n"), 6).alias("attributed_value"),
        )
    )


def _kcore_oracle(rounds: int = 4) -> str:
    """Unrolled Matula-Beck peel oracle (the pagerank/HITS unrolled-loop
    idiom, VERDICT r10 #7): the verified ngram_jaccard_pairs statement
    nested as a derived table, then `rounds` peel rounds generated
    mechanically — degree count, drop-below-k, re-filter edges; every
    operation is integer set algebra, so the SQL replays Spark's
    fixpoint loop exactly once the peel has converged. Convergence
    depth probed at sf0.001/0.01/0.1 is 1 round; rounds=4 leaves 3x
    margin (extra rounds are no-ops on the converged core). Every
    chain CTE is MATERIALIZED (the r7 mmr lesson: DuckDB inlines
    multiply-referenced CTEs and re-evaluates the prefix)."""
    pairs_sql = _REGISTRY["ngram_jaccard_pairs"].oracle
    sql = f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({pairs_sql}) q),
    e0 AS MATERIALIZED (
      SELECT DISTINCT least(doc_a, doc_b) AS u,
                      greatest(doc_a, doc_b) AS v
      FROM pairs WHERE doc_a <> doc_b),
    c0 AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0)"""
    for i in range(1, rounds + 1):
        sql += f""",
    bad{i} AS MATERIALIZED (
      SELECT u FROM c{i - 1} GROUP BY u HAVING count(*) < 2),
    c{i} AS MATERIALIZED (
      SELECT c.u, c.v FROM c{i - 1} c
      WHERE c.u NOT IN (SELECT u FROM bad{i})
        AND c.v NOT IN (SELECT u FROM bad{i}))"""
    sql += f"""
    SELECT u AS doc_id, CAST(count(*) AS DOUBLE) AS core_degree_d
    FROM c{rounds} GROUP BY u"""
    return sql


@register("near_dup_kcore", _kcore_oracle(4))
def q_near_dup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the EXACT near-dup graph (n-gram Jaccard pairs — the
    same graph pagerank_near_dup and bfs_hops_near_dup rank), via
    operators/graph.py Matula-Beck peeling: the vertices that survive
    iterated removal of degree-<2 nodes, with their within-core degree.
    Chain-like borderline matches peel away; clustered duplicates stay
    (at sf0.01 the peel strips 44 of 47 vertices — non-vacuous on both
    engines). Redefined in r11 from the float-cosine embedding graph to
    the exact-collapsed text graph so the peel is deterministically
    SQL-replayable (VERDICT r10 #7, rows-only 13 -> 12); the embedding
    variant remains a supported operator with pure-Python peeler parity
    pinned in tests/test_corpus_prep.py. Scale shape: edges come from
    the banded-LSH exact stage, each peel round is one map-combined
    degree groupBy + two left-anti joins on the shrinking core, lineage
    truncated per round (graph.py:373)."""
    edges = text.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))
    return (
        graph.kcore_vertices(edges, k=2, src="doc_a", dst="doc_b")
        .select(
            F.col("vertex").alias("doc_id"),
            F.col("core_degree").cast("double").alias("core_degree_d"),
        )
    )


@register(
    "events_quality_rules",
    """
    WITH n AS (SELECT count(*) AS total FROM events),
    r AS (
      SELECT 'null_user_id' AS rule,
             count(*) FILTER (WHERE user_id IS NULL) AS viol FROM events
      UNION ALL
      SELECT 'unknown_event_type',
             count(*) FILTER (WHERE event_type NOT IN
               ('click', 'view', 'purchase', 'signup', 'error'))
      FROM events
      UNION ALL
      SELECT 'negative_value',
             count(*) FILTER (WHERE value < 0) FROM events
      UNION ALL
      SELECT 'duplicate_event_id',
             (SELECT count(*) FROM
               (SELECT event_id FROM events GROUP BY 1 HAVING count(*) > 1) d)
      UNION ALL
      SELECT 'ts_out_of_range',
             count(*) FILTER (WHERE ts < TIMESTAMP '2020-01-01'
                                 OR ts >= TIMESTAMP '2030-01-01')
      FROM events)
    SELECT r.rule, CAST(r.viol AS DOUBLE) AS n_violations_d,
           round(CAST(r.viol AS DOUBLE) / n.total, 6) AS violation_rate
    FROM r, n
    """,
)
def q_events_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based data-quality audit — the contract check a pipeline runs
    before anything downstream trusts a batch: null keys, out-of-domain
    event types, negative values, duplicate primary keys, timestamps
    outside the sane window. One scan computes the four row-level rules
    as conditional counts (map-side combined); the duplicate-key rule is
    its own keyed aggregate; the report is five rows joined to the total.
    Identical shape at any scale — no rule touches more than one
    shuffle."""
    ev = _t(spark, sf_dir, "events")
    total_df = ev.agg(F.count(F.lit(1)).cast("double").alias("__total"))
    row_rules = ev.agg(
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("double")
        .alias("null_user_id"),
        F.sum(
            F.when(
                ~F.col("event_type").isin(
                    "click", "view", "purchase", "signup", "error"
                ),
                1,
            ).otherwise(0)
        )
        .cast("double")
        .alias("unknown_event_type"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
        .cast("double")
        .alias("negative_value"),
        F.sum(
            F.when(
                (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2030-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        )
        .cast("double")
        .alias("ts_out_of_range"),
    )
    dup = (
        ev.groupBy("event_id")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.count(F.lit(1)).cast("double").alias("duplicate_event_id"))
    )
    wide = row_rules.crossJoin(dup).crossJoin(total_df)
    rules = ["null_user_id", "unknown_event_type", "negative_value",
             "duplicate_event_id", "ts_out_of_range"]
    stacked = None
    for rule in rules:
        one = wide.select(
            F.lit(rule).alias("rule"),
            F.col(rule).alias("n_violations_d"),
            F.round(F.col(rule) / F.col("__total"), 6).alias(
                "violation_rate"
            ),
        )
        stacked = one if stacked is None else stacked.unionByName(one)
    return stacked


@register(
    "text_semantic_search",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents),
    t AS (SELECT doc_id, tok FROM toks WHERE len(tok) > 0),
    hb AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 7))::UBIGINT::BIGINT % 64 AS bucket,
             CASE WHEN ('0x' || substr(md5(tok), 8, 1))::UBIGINT::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM t),
    pb AS (SELECT doc_id, bucket, sum(s) AS w FROM hb GROUP BY 1, 2),
    dense AS (
      SELECT d.doc_id, i.i AS idx, CAST(coalesce(pb.w, 0) AS DOUBLE) AS v
      FROM (SELECT DISTINCT doc_id FROM pb) d
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i(i)
      LEFT JOIN pb ON pb.doc_id = d.doc_id AND pb.bucket = i.i),
    n AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM dense GROUP BY 1),
    he AS (
      SELECT d.doc_id AS vec_id,
             array_agg(round(v / greatest(nrm, 1e-12), 6) ORDER BY idx) AS e
      FROM dense d JOIN n USING (doc_id) GROUP BY 1),
    q AS (SELECT vec_id AS query_id, e AS qe FROM he WHERE vec_id < 20),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
        round(list_dot_product(qe, c.e)
              / (sqrt(list_dot_product(qe, qe))
                 * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
      FROM q CROSS JOIN he c WHERE c.vec_id != query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
        CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5
    """,
)
def q_text_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end model-free semantic retrieval: raw text → hashing-trick
    embeddings (text.hash_embed, exactly oracled on its own) → exact
    cosine top-5 (similarity.brute_force_topk) — the composition that
    turns the corpus into a searchable index with zero learned
    components. Both stages reuse their verified operators, and the
    oracle stitches the hash-embedding CTE into the brute-force ranking
    SQL, so the retrieval results themselves hash-check exactly."""
    emb = text.hash_embed(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return similarity.brute_force_topk(emb, n_queries=20, k=5)


_DHASH_CTE = """
    WITH dims AS (
      SELECT doc_id,
             8 + doc_id % 21 AS w, 8 + (doc_id * 5) % 13 AS h
      FROM documents),
    pos AS (
      SELECT doc_id, w, h, r.r, c.c
      FROM dims,
           (SELECT unnest(range(0, 8)) AS r) r,
           (SELECT unnest(range(0, 8)) AS c) c),
    bits AS (
      SELECT doc_id, r * 8 + c AS i,
             CASE WHEN (doc_id + 3 * ((r * h) // 8)
                        + 7 * (((c + 1) * w) // 9)) % 256
                  >    (doc_id + 3 * ((r * h) // 8)
                        + 7 * ((c * w) // 9)) % 256
                  THEN 1 ELSE 0 END AS bit
      FROM pos),
    dh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN i < 16 THEN bit << i ELSE 0 END) AS INT) AS b0,
             CAST(sum(CASE WHEN i >= 16 AND i < 32 THEN bit << (i - 16)
                           ELSE 0 END) AS INT) AS b1,
             CAST(sum(CASE WHEN i >= 32 AND i < 48 THEN bit << (i - 32)
                           ELSE 0 END) AS INT) AS b2,
             CAST(sum(CASE WHEN i >= 48 THEN bit << (i - 48) ELSE 0 END)
               AS INT) AS b3
      FROM bits GROUP BY 1)
"""


def _dhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized per sf_dir (the ``_replay_events`` idiom, VERDICT r7 #4):
    the dHash table is a content-addressable ARTIFACT — hash once, store,
    join — so the three image-dedup queries (and repeated bench/driver
    runs) share one persisted parquet copy instead of re-running the
    synthesize→PNG-encode→decode→resample chain every execution. This is
    also the honest 100 TB shape: perceptual hashes live beside the
    corpus like the ANN indexes, and dedup is a join against them.
    Cleaned up at interpreter exit; invalidated by sf_dir."""
    d = _scratch_dir(
        "dhash",
        sf_dir,
        lambda d: multimodal.image_dhash(
            multimodal.synthesize_payload(_t(spark, sf_dir, "documents"), "image/png")
        ).write.mode("overwrite").parquet(d),
    )
    return spark.read.parquet(d)


@register("image_dhash_png", _DHASH_CTE + "SELECT doc_id, b0, b1, b2, b3 FROM dh")
def q_image_dhash_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash table over REAL decoded PNGs
    (operators/multimodal.py): CRC-verified parse + filter inversion →
    grayscale → 9x8 nearest-neighbor resample → 64 horizontal-gradient
    bits packed as four 16-bit bands. The oracle replays the closed-form
    pixel pattern and the exact floor-division resample indices, so a
    hash match proves the whole decode→resample→hash chain bit-exact."""
    return _dhash_table(spark, sf_dir)


@register(
    "image_near_dup_pairs_dhash",
    _DHASH_CTE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(CAST(xor(a.b0, b.b0) AS BIGINT))
              + bit_count(CAST(xor(a.b1, b.b1) AS BIGINT))
              + bit_count(CAST(xor(a.b2, b.b2) AS BIGINT))
              + bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) AS INT) AS hamming
    FROM dh a JOIN dh b ON a.doc_id < b.doc_id
    WHERE bit_count(CAST(xor(a.b0, b.b0) AS BIGINT))
        + bit_count(CAST(xor(a.b1, b.b1) AS BIGINT))
        + bit_count(CAST(xor(a.b2, b.b2) AS BIGINT))
        + bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) <= 3
    """,
)
def q_image_near_dup_pairs_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by banded Hamming LSH over the dHash table —
    the multimodal member of the dedup family. Candidates equi-join on
    any of the four 16-bit bands (pigeonhole: Hamming <= 3 cannot touch
    all four, so recall is exactly 100%); bit_count(xor) re-ranks
    JVM-side. The oracle is the ALL-PAIRS Hamming filter over the same
    closed-form hashes, so a hash match proves band completeness on
    real data, never just on the planted pytest fixture."""
    return multimodal.image_near_dup_pairs_dhash(
        _dhash_table(spark, sf_dir), max_hamming=3
    )


@register(
    "image_dedup_groups",
    "WITH RECURSIVE "
    + _DHASH_CTE.strip().removeprefix("WITH")
    + """
    , pairs AS (
      SELECT a.doc_id AS pa, b.doc_id AS pb
      FROM dh a JOIN dh b ON a.doc_id < b.doc_id
      WHERE bit_count(CAST(xor(a.b0, b.b0) AS BIGINT))
          + bit_count(CAST(xor(a.b1, b.b1) AS BIGINT))
          + bit_count(CAST(xor(a.b2, b.b2) AS BIGINT))
          + bit_count(CAST(xor(a.b3, b.b3) AS BIGINT)) <= 3),
    e AS (SELECT pa AS u, pb AS v FROM pairs
          UNION ALL SELECT pb, pa FROM pairs),
    reach(u, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.label FROM reach r JOIN e ON e.u = r.u),
    comp AS (SELECT u AS doc_id, min(label) AS group_id FROM reach GROUP BY u)
    SELECT c.doc_id, c.group_id, s.group_size
    FROM comp c
    JOIN (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1) s
      USING (group_id)
    """,
)
def q_image_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup GROUPS — the visual twin of
    embedding_dedup_groups: banded-Hamming dHash pairs resolved into
    transitive keep-min-id groups by star-contraction components. The
    oracle stitches the closed-form hash CTE, the all-pairs Hamming
    filter, and the recursive-CTE reachability fixpoint — so the full
    decode → hash → band-join → components chain hash-checks as one
    statement."""
    docs = _t(spark, sf_dir, "documents")
    hashes = _dhash_table(spark, sf_dir)
    # Collapse EXACT-duplicate hashes to one representative before the
    # banded join: members of a rep share its hash bit-for-bit, so
    # hamming(d1, d2) == hamming(rep1, rep2) and the connectivity
    # relation — hence the output — is exactly the all-pairs one the
    # recursive-CTE oracle states. Without this the pair volume is
    # quadratic in clique size (sf0.1: 3.4M pairs from 5k images, ~7 s
    # of star-contraction on edges that carry no extra information);
    # with it the join runs over distinct hashes only and members
    # attach by ONE equi-join edge each. This is also the 100 TB shape:
    # canonicalize exact dupes first, band-join the survivors.
    reps = hashes.groupBy("b0", "b1", "b2", "b3").agg(
        F.min("doc_id").alias("rep")
    )
    rep_hashes = reps.select(
        F.col("rep").alias("doc_id"), "b0", "b1", "b2", "b3"
    )
    rep_pairs = multimodal.image_near_dup_pairs_dhash(
        rep_hashes, max_hamming=3
    ).select("doc_a", "doc_b")
    members = (
        hashes.join(reps, ["b0", "b1", "b2", "b3"])
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return graph.dedup_groups(
        docs,
        rep_pairs.unionByName(members),
        id_col="doc_id",
        a_col="doc_a",
        b_col="doc_b",
    )


@register(
    "session_event_paths",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS sess_id
      FROM s),
    p AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w2 AS e2,
             lead(event_type, 2) OVER w2 AS e3
      FROM g
      WINDOW w2 AS (PARTITION BY user_id, sess_id ORDER BY ts, event_id)),
    c AS (
      SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
             count(*) AS n_occurrences
      FROM p WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY 1)
    SELECT path, CAST(n_occurrences AS DOUBLE) AS n_occurrences_d,
           CAST(row_number() OVER (ORDER BY n_occurrences DESC, path)
                AS INTEGER) AS rnk
    FROM c QUALIFY rnk <= 10
    """,
)
def q_session_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 event-type trigram paths inside 30-minute gap sessions —
    the path-analysis view of the sessionized clickstream (which
    three-step journeys dominate). One (user) window pass assigns gap
    sessions, one (user, session) window emits trigrams via lead, one
    count aggregation, then a global top-10 via orderBy+limit (Spark
    plans TakeOrderedAndProject: per-partition top-k, driver merges 10
    rows — never a partition-less sort over the aggregate; VERDICT r6).
    The gap test compares exact MICROSECOND diffs on both engines
    (ADVICE r6: a second-truncated diff of exactly 1800 classifies
    differently from the exact interval)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.unix_micros(F.col("ts"))
        - F.lag(F.unix_micros(F.col("ts"))).over(w)
        > 1_800_000_000,
        1,
    ).otherwise(
        F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)
    )
    g = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "sess_id",
        F.sum(new_sess).over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    w2 = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    p = g.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w2).alias("e2"),
        F.lead("event_type", 2).over(w2).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    c = p.groupBy(
        F.concat_ws(" > ", "e1", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).cast("double").alias("n_occurrences_d"))
    top = c.orderBy(F.col("n_occurrences_d").desc(), F.col("path").asc()).limit(10)
    # rnk = position within the 10-row result: coalesce(1) + local sort +
    # monotonically_increasing_id (pid 0 → ids 0..9 in sort order). No
    # WindowExec at all — a lit(0) partition key would be constant-folded
    # back into a partition-less window.
    return (
        top.coalesce(1)
        .sortWithinPartitions(F.col("n_occurrences_d").desc(), F.col("path").asc())
        .select(
            "path",
            "n_occurrences_d",
            (F.monotonically_increasing_id() + 1).cast("int").alias("rnk"),
        )
    )


# z-normalized "spike" query pattern [0,0,1,2,1,0] — constants computed
# once at full precision; both engines consume the identical literals.
_SPIKE_PZ = (
    -0.8944271909999159,
    -0.8944271909999159,
    0.447213595499958,
    1.788854381999832,
    0.447213595499958,
    -0.8944271909999159,
)


@register(
    "series_pattern_match",
    f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('day', ts) AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
    win AS (
      SELECT user_id, bucket AS window_start,
             {", ".join(f"lead(v, {i}) OVER w AS a{i}" for i in range(6))},
             lead(bucket, 5) OVER w AS b5
      FROM hourly
      WINDOW w AS (PARTITION BY user_id ORDER BY bucket)),
    full_win AS (
      SELECT * FROM win
      WHERE a5 IS NOT NULL AND b5 = window_start + INTERVAL 5 DAY),
    z AS (
      SELECT user_id, window_start,
             (a0+a1+a2+a3+a4+a5) / 6 AS m,
             sqrt((a0*a0+a1*a1+a2*a2+a3*a3+a4*a4+a5*a5) / 6
                  - ((a0+a1+a2+a3+a4+a5) / 6) * ((a0+a1+a2+a3+a4+a5) / 6))
               AS sd,
             a0, a1, a2, a3, a4, a5
      FROM full_win),
    scored AS (
      SELECT user_id, window_start,
             round({" + ".join(
                 f"((a{i} - m) / sd - ({_SPIKE_PZ[i]!r})) "
                 f"* ((a{i} - m) / sd - ({_SPIKE_PZ[i]!r}))"
                 for i in range(6))}, 6) AS dist
      FROM z WHERE sd > 0)
    SELECT user_id, window_start, dist,
           CAST(row_number() OVER (ORDER BY dist, user_id, window_start)
                AS INTEGER) AS rnk
    FROM scored QUALIFY rnk <= 10
    """,
)
def q_series_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence pattern search (the matrix-profile-style
    primitive of streaming similarity search, cf. EDBT'19 in PAPERS.md):
    per-user daily value series → every CONSECUTIVE 6-day window
    (lead-built, gap-checked) → z-normalized Euclidean distance to the
    spike pattern → global top-10. Exact-DECIMAL daily sums, one fixed
    6-term distance expression both engines evaluate identically, sd > 0
    guard drops flat windows, deterministic (dist, user, start) rank.
    Shape: one keyed aggregation + one per-user ordered window + a
    global top-10 via orderBy+limit (TakeOrderedAndProject: per-partition
    top-k, driver merges 10 rows — the corpus-sized scored frame never
    moves through a single-partition sort; VERDICT r6). No joins, no
    Python."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    hourly = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("bucket")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("bucket")
    leads = [F.lead("v", i).over(w).alias(f"a{i}") for i in range(6)]
    win = hourly.select(
        "user_id",
        F.col("bucket").alias("window_start"),
        *leads,
        F.lead("bucket", 5).over(w).alias("b5"),
    ).filter(
        F.col("a5").isNotNull()
        & (F.col("b5") == F.col("window_start") + F.expr("INTERVAL 5 DAYS"))
    )
    s = sum(F.col(f"a{i}") for i in range(6))
    ss = sum(F.col(f"a{i}") * F.col(f"a{i}") for i in range(6))
    m = s / 6
    sd = F.sqrt(ss / 6 - m * m)
    dist = F.round(
        sum(
            ((F.col(f"a{i}") - m) / sd - F.lit(_SPIKE_PZ[i]))
            * ((F.col(f"a{i}") - m) / sd - F.lit(_SPIKE_PZ[i]))
            for i in range(6)
        ),
        6,
    )
    scored = (
        win.withColumn("__sd", sd)
        .filter(F.col("__sd") > 0)
        .select("user_id", "window_start", dist.alias("dist"))
    )
    top = scored.orderBy(
        F.col("dist").asc(), F.col("user_id").asc(), F.col("window_start").asc()
    ).limit(10)
    return (
        top.coalesce(1)
        .sortWithinPartitions(
            F.col("dist").asc(), F.col("user_id").asc(), F.col("window_start").asc()
        )
        .select(
            "user_id",
            "window_start",
            "dist",
            (F.monotonically_increasing_id() + 1).cast("int").alias("rnk"),
        )
    )


_SLIDING_CHUNK_SQL = r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents),
    b AS (SELECT doc_id, t, len(t) AS n FROM d),
    c AS (
      SELECT doc_id, t, n,
             unnest(range(0, 1 + CAST(ceil(greatest(n - 256, 0) / 192.0)
                                      AS BIGINT))) AS cid
      FROM b)
    SELECT doc_id, CAST(cid AS INT) AS chunk_id,
           CAST(cid * 192 AS INT) AS start_token,
           CAST(least(256, n - cid * 192) AS INT) AS n_tokens,
           t[CAST(cid * 192 + 1 AS INT)] AS first_token,
           t[CAST(least(cid * 192 + 256, n) AS INT)] AS last_token
    FROM c
"""


@register("corpus_chunk_sliding", _SLIDING_CHUNK_SQL)
def q_corpus_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with 64-token overlap (256-token windows,
    stride 192) — the RAG/long-doc ingestion shape, as a fully narrow
    plan (descriptors inline-exploded from each row's own token array,
    no shuffle). The final window reaches each document's end exactly
    once; the oracle restates the window-count arithmetic verbatim."""
    return text.chunk_tokens_sliding(_t(spark, sf_dir, "documents"))


@register(
    "avro_source_roundtrip",
    """
    SELECT event_id, ts, CAST(user_id AS DOUBLE) AS user_id_d,
           event_type, value, props
    FROM events
    """,
)
def q_avro_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's VALUE_FORMAT='AVRO' wire format, executable
    in-sandbox (sources/avro_py.py — the Avro 1.11 BINARY spec
    implemented pure-Python, since spark-avro is genuinely absent from
    this classpath): the events table encodes to real Avro record bytes
    (zigzag varints, union-prefixed nullables, timestamp-micros) and
    decodes back to typed columns. The parquet table is the oracle, so a
    hash match proves the round-trip lossless — nullable user_id nulls
    included (cast DOUBLE on both sides per the driver's pandas
    bridge)."""
    from ..sources import avro_py

    ev = _t(spark, sf_dir, "events")
    schema_json = avro_py.avro_schema_for(ev.schema)
    decoded = avro_py.decode_avro_py(
        avro_py.encode_avro_py(ev, schema_json), schema_json
    )
    return decoded.select(
        "event_id",
        "ts",
        F.col("user_id").cast("double").alias("user_id_d"),
        "event_type",
        "value",
        "props",
    )


def _rag_oracle() -> str:
    """Compose the verified stage oracles into the RAG indexing pass:
    clean survivors of the train split, minus benchmark-contaminated
    docs, sliced into overlapping retrieval chunks. Substitutions are
    asserted (the curation-composite discipline)."""
    clean = _CLEAN_CORPUS_ORACLE.format(minhash_cols=_MINHASH_COLS)
    assert clean.count("FROM documents") == 1
    clean_train = clean.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 97 <> 0) documents",
    )
    chunk = _SLIDING_CHUNK_SQL
    assert chunk.count("FROM documents") == 1
    chunk_scoped = chunk.replace(
        "FROM documents",
        "FROM documents WHERE doc_id IN (SELECT doc_id FROM final_set)",
    ).lstrip()
    assert chunk_scoped.startswith("WITH ")
    return f"""
    WITH final_set AS (
      SELECT doc_id FROM ({clean_train}) c
      WHERE doc_id NOT IN (SELECT doc_id FROM ({_DECON_ORACLE}) d)
    ), {chunk_scoped[5:]}"""


@register("corpus_rag_pipeline", _rag_oracle())
def q_corpus_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG indexing pass as one query — corpus_curation_pipeline's
    retrieval sibling: language/quality gates → MinHash-LSH near-dup
    removal → benchmark decontamination → OVERLAPPING sliding-window
    chunks (what the vector store actually indexes). Every stage is an
    independently-oracled operator; this pins that they compose — the
    final chunk layout hash-checks against the stitched stage oracles.
    Same scale discipline as the curation composite (each stage
    bucketed/broadcast-bounded; the chunker is fully narrow)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    clean = text.clean_corpus(train)
    contaminated = text.decontaminate(train, bench, n=4)
    final_docs = docs.join(
        clean.join(contaminated, "doc_id", "left_anti").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    return text.chunk_tokens_sliding(final_docs)


@register("orc_source_roundtrip", _DOCS_ORACLE)
def q_orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format breadth (S-family): documents through ORC — the Hive-era
    columnar container a lake migration meets — written and read back
    with an explicit schema; the parquet table is the oracle, so a hash
    match proves the round-trip lossless."""
    from ..sources import formats

    out = formats.documents_via_orc(spark, sf_dir, _scratch_dir("fmt_orc", sf_dir))
    return out.select("doc_id", "text", "lang", "source", "n_chars")


@register(
    "gdpr_purge_audit",
    """
    WITH tomb AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 13 = 0),
    o AS (
      SELECT o_orderkey, o_custkey FROM orders),
    po AS (
      SELECT o_orderkey FROM o
      WHERE o_custkey IN (SELECT c_custkey FROM tomb)),
    counts AS (
      SELECT 'customer' AS table_name,
             (SELECT count(*) FROM customer) AS rows_before,
             (SELECT count(*) FROM customer
              WHERE c_custkey IN (SELECT c_custkey FROM tomb)) AS rows_purged
      UNION ALL
      SELECT 'orders',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM po)
      UNION ALL
      SELECT 'lineitem',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM po)))
    SELECT table_name,
           CAST(rows_before AS DOUBLE) AS rows_before_d,
           CAST(rows_purged AS DOUBLE) AS rows_purged_d,
           CAST(rows_before - rows_purged AS DOUBLE) AS rows_after_d
    FROM counts
    """,
)
def q_gdpr_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade — the deletion-propagation pass
    every lake owes its compliance team: tombstoned customers purge
    their customer rows, their orders, and those orders' lineitems
    (FK-linked cascade), with a per-table audit of before/purged/after
    counts. The tombstone and derived order-key sets ride broadcast
    LEFT SEMI joins (bounded key relations — the fact scans are never
    shuffled), and the audit is three count aggregates unioned — the
    same single-scan shape at any scale."""
    tomb = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 13 == 0)
        .select("c_custkey")
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    purged_orders = orders.join(
        F.broadcast(tomb),
        orders.o_custkey == tomb.c_custkey,
        "left_semi",
    ).select("o_orderkey")

    def audit(name: str, table: DataFrame, purged: DataFrame) -> DataFrame:
        return table.agg(
            F.count(F.lit(1)).cast("double").alias("rows_before_d")
        ).crossJoin(
            purged.agg(
                F.count(F.lit(1)).cast("double").alias("rows_purged_d")
            )
        ).select(
            F.lit(name).alias("table_name"),
            "rows_before_d",
            "rows_purged_d",
            (F.col("rows_before_d") - F.col("rows_purged_d")).alias(
                "rows_after_d"
            ),
        )

    purged_cust = cust.join(F.broadcast(tomb), "c_custkey", "left_semi")
    purged_li = li.join(
        F.broadcast(purged_orders),
        li.l_orderkey == purged_orders.o_orderkey,
        "left_semi",
    )
    return (
        audit("customer", cust, purged_cust)
        .unionByName(audit("orders", orders, purged_orders))
        .unionByName(audit("lineitem", li, purged_li))
    )


@register("streaming_ivf_ingest")
def q_streaming_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained ANN index (operators/similarity.py): the
    embeddings table replays as a file stream and each micro-batch
    assigns IVF cells FIT-FREE from the built index's broadcast
    centroids, landing as a batch-id-keyed parquet segment (idempotent
    on redelivery). The returned assignments are the ingested
    ``IvfIndex.corpus`` relation — searches run against everything
    ingested so far. Model-backed cells (rows-only at the driver);
    exact argmin parity vs numpy and search parity vs the batch-built
    index are pinned in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    index = similarity.build_ivf_index(emb)
    d = tempfile.mkdtemp(prefix="sgraft_ivf_ingest_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    stream_source.shard_table_to_dir(
        emb, f"{d}/in", num_shards=3, order_col="vec_id"
    )
    similarity.ivf_ingest_stream(
        stream_source.stream_parquet_dir(spark, f"{d}/in"),
        index,
        f"{d}/corpus",
    )
    return (
        spark.read.parquet(f"{d}/corpus")
        .select("neighbor_id", F.col("cell").cast("int").alias("cell"))
    )


_PCA_SQUARINGS = 10  # effective matrix power 2^10 = 1024
_PCA_MCAP = 68719476736  # 2^36 — fixed-point cap of the matrix entries
_PCA_VSCALE = 1048576  # 2^20 — fixed-point scale of the direction vector


def _pca_power_oracle(squarings: int = _PCA_SQUARINGS) -> str:
    """Unrolled fixed-point power method over the EXACT integer
    co-moment matrix (the pagerank discipline, VERDICT r11 #6), with
    MATRIX SQUARING instead of plain matvec rounds: the embedding
    spectrum is near-isotropic (lambda2/lambda1 ~ 0.987 at sf0.01), so
    plain iteration needs ~550 rounds — 10 squarings reach C^1024 with
    contamination 0.987^1024 ~ 2e-6. Embeddings quantize to micro-unit
    BIGINTs, deviations center on the integer div mean, the 64x64
    co-moment accumulates in DECIMAL(38,0); each squaring renormalizes
    by the max |entry| to the 2^36 cap via HUGEINT // — DuckDB's int128
    division truncates toward zero exactly like Python's sign-adjusted
    // in the Spark query's driver loop, the keystone equivalence.
    Bounds: capped entries 2^36, squared products 2^72, 64-term sums
    2^78, renorm multiply 2^114 — all inside HUGEINT (2^127). Every CTE
    referenced twice is MATERIALIZED."""
    sql = f"""
    WITH lng AS MATERIALIZED (
      SELECT vec_id, CAST(p.j AS INT) AS j,
             CAST(floor(CAST(p.x AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM (SELECT vec_id,
                   unnest(list_transform(embedding,
                     (x, i) -> struct_pack(x := x, j := i))) AS p
            FROM embeddings)),
    mu AS MATERIALIZED (
      SELECT j, sum(q) // count(*) AS mu FROM lng GROUP BY 1),
    dev AS MATERIALIZED (
      SELECT l.vec_id, l.j, l.q - m.mu AS d
      FROM lng l JOIN mu m ON m.j = l.j),
    cov AS MATERIALIZED (
      SELECT a.j AS i, b.j AS jj,
             sum(CAST(a.d AS DECIMAL(38,0)) * b.d) AS c
      FROM dev a JOIN dev b ON a.vec_id = b.vec_id
      GROUP BY 1, 2),
    cx AS (SELECT max(abs(CAST(c AS HUGEINT))) AS mx FROM cov),
    a0 AS MATERIALIZED (
      SELECT i, jj, CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(c AS HUGEINT) * {_PCA_MCAP}
                          // mx AS BIGINT) END AS c
      FROM cov, cx)"""
    for s in range(1, squarings + 1):
        sql += f""",
    p{s} AS MATERIALIZED (
      SELECT a.i AS i, b.jj AS jj,
             sum(CAST(a.c AS HUGEINT) * b.c) AS c
      FROM a{s - 1} a JOIN a{s - 1} b ON b.i = a.jj
      GROUP BY 1, 2),
    px{s} AS (SELECT max(abs(c)) AS mx FROM p{s}),
    a{s} AS MATERIALIZED (
      SELECT i, jj, CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(c * {_PCA_MCAP} // mx AS BIGINT) END AS c
      FROM p{s}, px{s})"""
    sql += f""",
    rv AS MATERIALIZED (
      SELECT i AS j, sum(CAST(c AS HUGEINT)) AS m
      FROM a{squarings} GROUP BY 1),
    rx AS (SELECT max(abs(m)) AS mx FROM rv),
    v AS MATERIALIZED (
      SELECT j, CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(m * {_PCA_VSCALE} // mx AS BIGINT) END AS x
      FROM rv, rx)
    SELECT d.vec_id,
           CAST(sum(CAST(d.d AS DECIMAL(38,0)) * v.x) AS DOUBLE) AS proj1_d
    FROM dev d JOIN v ON v.j = d.j
    GROUP BY 1"""
    return sql


@register("embedding_pca_project", _pca_power_oracle())
def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection of every embedding onto its corpus's top principal
    direction, EXACT in fixed point (formerly rows-only via eigh;
    VERDICT r11 #6): micro-quantized coordinates center on the integer
    mean, the 64x64 co-moment matrix is an exact DECIMAL(38,0)
    aggregate (one shuffle, dim^2 cells — a model artifact, bounded by
    dimension not rows), and the power method runs driver-side in
    arbitrary-precision Python integers with truncating division —
    bit-identical to the oracle's unrolled HUGEINT SQL rounds, the
    same replication contract pagerank uses. MATRIX SQUARING (10
    rounds = C^1024) instead of plain matvec because the embedding
    spectrum is near-isotropic (lambda2/lambda1 ~ 0.987). The learned
    direction re-enters the plan as a broadcast 64-row literal and the
    projection is ONE exact integer dot product per row (emitted as
    DOUBLE; values sit far below 2^53). Direction closeness to numpy's
    true top eigenvector is pinned in tests/test_similarity.py; the
    8-component eigh operator remains public as similarity.pca_project
    with its own self-checks."""
    lng = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("pos", "xf"))
        .selectExpr(
            "vec_id",
            "CAST(pos + 1 AS INT) AS j",
            "CAST(floor(CAST(xf AS DOUBLE) * 1000000) AS BIGINT) AS q",
        )
    )
    mu = lng.groupBy("j").agg(F.expr("sum(q) div count(*)").alias("mu"))
    dev = (
        lng.join(F.broadcast(mu), "j")
        .selectExpr("vec_id", "j", "q - mu AS d")
    )
    d2 = dev.selectExpr("vec_id", "j AS jj", "d AS d2")
    cov_rows = (
        dev.join(d2, "vec_id")
        .groupBy("j", "jj")
        .agg(F.expr("sum(CAST(d AS DECIMAL(38,0)) * d2)").alias("c"))
        .collect()  # bounded: dim^2 = 4096 co-moment cells, a model artifact
    )
    dims = sorted({r["j"] for r in cov_rows})
    idx = {j: k for k, j in enumerate(dims)}
    n = len(dims)
    a = [[0] * n for _ in range(n)]
    for r in cov_rows:
        a[idx[r["j"]]][idx[r["jj"]]] = int(r["c"])

    def tdiv(x: int, y: int) -> int:
        # truncate toward zero: DuckDB HUGEINT // semantics
        s = -1 if (x < 0) != (y < 0) else 1
        return s * (abs(x) // abs(y))

    def renorm(m: list[list[int]], cap: int) -> list[list[int]]:
        mx = max(abs(x) for row in m for x in row)
        if mx == 0:
            return [[0] * n for _ in range(n)]
        return [[tdiv(x * cap, mx) for x in row] for row in m]

    a = renorm(a, _PCA_MCAP)
    for _ in range(_PCA_SQUARINGS):
        b = [
            [
                sum(a[i][k] * a[k][j] for k in range(n))
                for j in range(n)
            ]
            for i in range(n)
        ]
        a = renorm(b, _PCA_MCAP)
    rv = [sum(row) for row in a]
    mx = max(abs(m) for m in rv)
    v = [tdiv(m * _PCA_VSCALE, mx) if mx else 0 for m in rv]
    vlit = spark.createDataFrame(
        [(j, v[idx[j]]) for j in dims], "j int, x long"
    )
    return (
        dev.join(F.broadcast(vlit), "j")
        .groupBy("vec_id")
        .agg(
            F.expr("CAST(sum(CAST(d AS DECIMAL(38,0)) * x) AS DOUBLE)")
            .alias("proj1_d")
        )
    )



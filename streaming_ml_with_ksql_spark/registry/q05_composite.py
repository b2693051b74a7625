"""Correlated subqueries, CUBE, salted joins, corpus cleaning composites, more text.

Split from the monolithic registry (round 7, VERDICT r6 #8); the
@register calls run at package import in the original registration
order, so ``queries()`` is unchanged.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401
from .q01_core import _ENRICHED_JOIN_ORACLE  # noqa: F401
from .q02_textdedup import _EMB_CTE, _MINHASH_COLS, _SHINGLES_CTE  # noqa: F401
from .q04_streamksql import _STREAM_SEQ, _STREAM_WM, _replay_events  # noqa: F401

# --------------------------------------------------------------------------
# Correlated subquery, CUBE, skew-salted join, composite corpus cleaning
# --------------------------------------------------------------------------

@register(
    "orders_above_customer_avg",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*)
            FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS cust_avg
    FROM orders o
    WHERE o_totalprice >
          (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  / COUNT(*)
           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape (SURVEY.md §2.9), decorrelated to
    per-key aggregate + join; the oracle states the correlated form."""
    return tpch.orders_above_customer_avg(_t(spark, sf_dir, "orders"))


@register(
    "order_priority_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_order_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (SURVEY.md §2.9)."""
    return tpch.order_priority_cube(_t(spark, sf_dir, "orders"))


@register(
    "late_shipment_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — correlated EXISTS with a non-equi correlated
    predicate, decorrelated to a conditioned left-semi join (SURVEY.md
    §2.9 subqueries); the oracle states the EXISTS form."""
    return tpch.late_shipment_priority(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@register(
    "top_supplier_per_nation",
    """
    SELECT r_name, n_name, s_name, s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE s.s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
                         WHERE s2.s_nationkey = s.s_nationkey)
    """,
)
def q_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — correlated scalar max against a dimension-scoped
    subset, decorrelated to per-key max + equality join; dimensions
    broadcast (SURVEY.md §2.9 subqueries)."""
    return tpch.top_supplier_per_nation(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@register(
    "volume_shipping",
    """
    SELECT n_s.n_name AS supp_nation, n_c.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n_c ON c.c_nationkey = n_c.n_nationkey
    JOIN nation n_s ON s.s_nationkey = n_s.n_nationkey
    WHERE ((n_c.n_name = 'NATION_1' AND n_s.n_name = 'NATION_2')
        OR (n_c.n_name = 'NATION_2' AND n_s.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    """,
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — the nation dimension joined twice under two roles
    (customer vs supplier nation), bilateral-pair filter, revenue by ship
    year (SURVEY.md §2.9 multi-way joins)."""
    return tpch.volume_shipping(
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
    )


@register(
    "important_part_values",
    """
    WITH val AS (
      SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val_dec
      FROM lineitem GROUP BY 1)
    SELECT v.l_partkey, p.p_name, CAST(v.val_dec AS DOUBLE) AS part_value
    FROM val v JOIN part p ON v.l_partkey = p.p_partkey
    WHERE CAST(v.val_dec AS DOUBLE) >
          1.5 * ((SELECT CAST(sum(val_dec) AS DOUBLE) FROM val)
                 / (SELECT count(*) FROM val))
    """,
)
def q_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — HAVING against an uncorrelated scalar subquery
    (multiple of the per-part average), decimal-exact threshold compare
    (SURVEY.md §2.9 subqueries)."""
    return tpch.important_part_values(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@register(
    "part_supplier_counts",
    """
    SELECT p.p_brand, p.p_type,
           count(DISTINCT sp.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sp
    JOIN part p ON sp.l_partkey = p.p_partkey
    WHERE sp.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2
    """,
)
def q_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — NOT IN exclusion subquery (broadcast anti join) +
    COUNT DISTINCT per attribute pair (SURVEY.md §2.9 subqueries /
    distinct aggregates)."""
    return tpch.part_supplier_counts(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
    )


@register(
    "large_volume_customers",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(q.qty_dec AS DOUBLE) AS total_qty
    FROM (SELECT l_orderkey,
                 sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
          FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250) q
    JOIN orders o ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — IN over a GROUP BY ... HAVING subquery,
    decorrelated to aggregate + equi-join on the order key
    (SURVEY.md §2.9 subqueries)."""
    return tpch.large_volume_customers(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register(
    "waiting_suppliers",
    """
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'),
    late AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lo
             WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
    alls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lo),
    sole AS (
      SELECT l1.l_orderkey, l1.l_suppkey FROM late l1
      WHERE EXISTS (SELECT 1 FROM alls l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM late l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey))
    SELECT s.s_name, n.n_name, count(*) AS numwait
    FROM sole
    JOIN supplier s ON sole.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — correlated EXISTS (left-semi) + NOT EXISTS
    (left-anti) self-joins on the order key (SURVEY.md §2.9 subqueries,
    the hardest shape in the family)."""
    return tpch.waiting_suppliers(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register(
    "churned_high_balance",
    """
    SELECT c.c_mktsegment, count(*) AS n_customers,
           CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_bal
    FROM customer c
    WHERE c.c_acctbal >
          (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                  / count(*)
           FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1
    """,
)
def q_churned_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — uncorrelated scalar AVG subquery (decimal-sum
    canonical) + NOT EXISTS anti join with the date filter pushed to the
    orders scan (SURVEY.md §2.9 subqueries)."""
    return tpch.churned_high_balance(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register(
    "value_rank_suite",
    """
    SELECT event_id, event_type, value,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def q_value_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window suite (SURVEY.md §2.9): rank / percent_rank /
    cume_dist / ntile in one window pass — one shuffle on the partition
    key, one sort, all four functions share the frame. The (value,
    event_id) ordering is a total order, which is what makes ntile (a
    row-position function) deterministic cross-engine."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.rank().over(w).cast("long").alias("rnk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "event_type_unpivot",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    t(event_type) AS (VALUES ('view'), ('click'), ('purchase'),
                             ('error'), ('signup')),
    c AS (SELECT user_id, event_type, count(*) AS n
          FROM events GROUP BY 1, 2)
    SELECT u.user_id, t.event_type, coalesce(c.n, 0) AS n_events
    FROM u CROSS JOIN t
    LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
    """,
)
def q_event_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (SURVEY.md §2.9 pivot family round-trip): the pivot
    matrix stacked back to (user_id, event_type, n_events) long form via
    `stack` — a generator projection, no extra shuffle beyond the pivot's
    own aggregation."""
    pv = tpch.event_type_pivot(_t(spark, sf_dir, "events"))
    return pv.selectExpr(
        "user_id",
        "stack(5, 'view', view, 'click', click, 'purchase', purchase, "
        "'error', error, 'signup', signup) AS (event_type, n_events)",
    )


@register(
    "order_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(2 * grouping(o_orderstatus)
                + grouping(o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority), ())
    """,
)
def q_order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS + grouping() disambiguator (SURVEY.md §2.9
    grouping sets beyond ROLLUP/CUBE): a NULL status in a subtotal row is
    distinguishable from a NULL data value by gid. SQL-API path on
    purpose — the engine exposes both DataFrame (cube/rollup) and SQL
    grouping-set surfaces."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gsets")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(2 * grouping(o_orderstatus)
                    + grouping(o_orderpriority) AS BIGINT) AS gid,
               count(*) AS n_orders,
               round(sum(o_totalprice), 4) AS sum_price
        FROM orders_gsets
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        """
    )


@register("enriched_window_join_salted", _ENRICHED_JOIN_ORACLE)
def q_enriched_window_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enrichment join executed through the skew-salting fallback
    (operators.joins.salted_join): fact rows spread over `salt` reducers,
    dimension replicated — identical results to the broadcast/plain join
    (same oracle as enriched_window_join), for the case where AQE's skew
    splitting cannot apply."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    agg = (
        ev.groupBy(F.window("ts", "10 minutes", "2 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            windows.count_if(F.col("event_type") == "purchase").alias("purchase_count"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n_events",
            "purchase_count",
        )
    )
    return joins.salted_join(agg, cust, "user_id", "c_custkey", salt=8).select(
        "window_start",
        "window_end",
        "user_id",
        "n_events",
        "purchase_count",
        "c_name",
        "c_mktsegment",
        "c_acctbal",
    )


_CLEAN_CORPUS_ORACLE = r"""
WITH toks AS (
  SELECT *, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
q AS (
  SELECT doc_id, lang, source, n_chars, text, t,
         CAST(len(t) AS INT) AS n_tokens,
         round(len(regexp_extract_all(text, '[^a-zA-Z0-9_\s]'))
               / greatest(length(text), 1), 6) AS punct
  FROM toks),
kept AS (
  SELECT * FROM q
  WHERE lang IN ('en', 'de') AND n_tokens >= 25 AND punct <= 0.05),
sh AS (
  SELECT doc_id, CASE WHEN len(t) >= 3
    THEN list_transform(generate_series(1, len(t)-2),
                        i -> array_to_string(t[i:i+2], ' '))
    ELSE [] END AS shingles
  FROM kept),
ds AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
dsh AS (
  SELECT doc_id, shingle,
         CAST(('0x' || substr(md5(shingle), 1, 7))::UBIGINT AS BIGINT) AS h
  FROM ds),
sig AS (
  SELECT doc_id, count(DISTINCT shingle) AS n_sh,
    {minhash_cols}
  FROM dsh GROUP BY doc_id),
banded AS (
  SELECT doc_id, band_id,
    CASE band_id
      WHEN 0 THEN concat_ws('|', mh0, mh1, mh2)
      WHEN 1 THEN concat_ws('|', mh3, mh4, mh5)
      WHEN 2 THEN concat_ws('|', mh6, mh7, mh8)
      ELSE concat_ws('|', mh9, mh10, mh11) END AS band_hash
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band_id) b),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id),
dsd AS (SELECT DISTINCT doc_id, shingle FROM ds),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN dsd sa ON sa.doc_id = c.doc_a
  JOIN dsd sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b,
    round(n_inter / (na.n_sh + nb.n_sh - n_inter), 6) AS jaccard
  FROM inter
  JOIN sig na ON na.doc_id = doc_a
  JOIN sig nb ON nb.doc_id = doc_b)
SELECT doc_id, lang, source, n_chars, n_tokens FROM kept
WHERE doc_id NOT IN (SELECT doc_b FROM pairs WHERE jaccard >= 0.8)
"""


@register(
    "corpus_clean_pipeline",
    _CLEAN_CORPUS_ORACLE.format(minhash_cols=_MINHASH_COLS),
)
def q_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pass (north-star composite):
    language selection → quality gates → MinHash-LSH near-dup removal."""
    return text.clean_corpus(_t(spark, sf_dir, "documents"))


@register(
    "near_dup_triangle_counts",
    _EMB_CTE
    + """
    , p AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e))
               * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM p e1 JOIN p e2 ON e2.u = e1.v
      JOIN p e3 ON e3.u = e1.u AND e3.v = e2.v),
    verts AS (
      SELECT DISTINCT vertex FROM (
        SELECT u AS vertex FROM p UNION ALL SELECT v FROM p)),
    tv AS (
      SELECT vertex, count(*) AS n FROM (
        SELECT a AS vertex FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) GROUP BY 1)
    SELECT v.vertex, CAST(coalesce(tv.n, 0) AS BIGINT) AS n_triangles
    FROM verts v LEFT JOIN tv USING (vertex)
    """,
)
def q_near_dup_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the embedding near-dup pair graph
    (operators/graph.py, Suri & Vassilvitskii WWW'11 degree-ordered
    orientation): the community-density screen between pair emission and
    component resolution — a vertex in many triangles sits in a dense
    duplicate clique, one in none is a chain link. The oracle enumerates
    triangles by id-canonical joins; orientation order doesn't change
    the triangle SET, so per-vertex counts hash-check exactly (the pair
    edges themselves reuse the verified all-pairs cosine rule)."""
    edges = similarity.embedding_near_dup_pairs_blocked(
        _t(spark, sf_dir, "embeddings")
    )
    return graph.triangle_counts(edges, src="vec_a", dst="vec_b")


@register(
    "near_dup_clustering_coefficient",
    _EMB_CTE
    + """
    , p AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e))
               * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM p e1 JOIN p e2 ON e2.u = e1.v
      JOIN p e3 ON e3.u = e1.u AND e3.v = e2.v),
    deg AS (
      SELECT vertex, count(*) AS d FROM (
        SELECT u AS vertex FROM p UNION ALL SELECT v FROM p) GROUP BY 1),
    tv AS (
      SELECT vertex, count(*) AS n FROM (
        SELECT a AS vertex FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) GROUP BY 1)
    SELECT deg.vertex, CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(tv.n, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.d >= 2
                THEN round(2.0 * coalesce(tv.n, 0) / (deg.d * (deg.d - 1)), 6)
                ELSE 0.0 END AS clustering_coeff
    FROM deg LEFT JOIN tv USING (vertex)
    """,
)
def q_near_dup_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex of the near-dup graph —
    2T(v) / (d(v)(d(v)-1)), the density score that separates CLIQUE-like
    duplicate clusters (coeff → 1: drop all but one representative) from
    CHAIN-like borderline matches (coeff → 0: review before dropping).
    Exact rational arithmetic rounded at 6 dp on both engines; degree
    and triangle counts reuse the verified operators."""
    edges = similarity.embedding_near_dup_pairs_blocked(
        _t(spark, sf_dir, "embeddings")
    ).select(F.col("vec_a").alias("u"), F.col("vec_b").alias("v"))
    tri = graph.triangle_counts(edges, src="u", dst="v")
    deg = (
        edges.select(F.col("u").alias("vertex"))
        .unionAll(edges.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        F.round(
            2.0 * F.col("n_triangles")
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return deg.join(tri, "vertex").select(
        "vertex", "degree", "n_triangles", coeff.alias("clustering_coeff")
    )


@register("embedding_topk_ivf", annx.ivfx_oracle())
def q_embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, EXACT end to end since r13 (VERDICT r12 #5 — the
    sign-LSH recipe extended to the quantizer families): md5-seeded
    centroids refined by ONE integer Lloyd round over milli-quantized
    coordinates, int-L2 cell assignment and probing, exact-cosine
    re-rank. Deterministic approximation -> the driver hash-checks the
    whole query; recall vs brute force stays pinned in tests/test_annx.py.
    The tunable float-KMeans build remains public as similarity.ivf_topk
    (rows-only by nature, recall pinned in tests/test_similarity.py)."""
    return annx.ivf_topk_exact(_t(spark, sf_dir, "embeddings"))


@register("embedding_topk_ivfpq", annx.ivfpqx_oracle())
def q_embedding_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, the classic billion-scale composition — EXACT end to end
    since r13: IVFX integer cells restrict WHICH vectors each query
    scans; md5-seeded one-integer-Lloyd-round RESIDUAL codebooks decide
    how cheaply each is scored (per-(query,cell) integer ADC tables,
    partition-local shortlists); exact cosine re-ranks. The float-KMeans
    build remains public as similarity.ivfpq_topk."""
    return annx.ivfpq_topk_exact(_t(spark, sf_dir, "embeddings"))


@register("embedding_topk_pq", annx.pqx_oracle())
def q_embedding_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the corpus-COMPRESSING index family:
    8x16 codebooks shrink 64-double vectors to 8 small ints) — EXACT end
    to end since r13: deterministic integer codebooks, int-L2 encoding,
    integer ADC scan with per-partition shortlists, exact-cosine re-rank.
    The float-KMeans build remains public as similarity.pq_topk."""
    return annx.pq_topk_exact(_t(spark, sf_dir, "embeddings"))


@register(
    "streaming_interval_join",
    """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
    v AS (
      SELECT event_id AS view_id, user_id, ts AS view_ts, value AS view_value
      FROM events WHERE event_type = 'view')
    SELECT p.user_id, purchase_id, purchase_ts, view_id, view_ts, view_value
    FROM p JOIN v
      ON v.user_id = p.user_id
     AND v.view_ts >= p.purchase_ts - INTERVAL 1 DAY
     AND v.view_ts <= p.purchase_ts
    """,
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream inner interval join (SURVEY.md §2.9 — beyond the
    reference's KSQL 5.4 surface): purchases matched to same-user views in
    the trailing day, run THROUGH Structured Streaming as a self-join of
    the replayed events stream. For the in-order bounded replay the
    emitted matches equal the batch join — the oracle states that batch
    join directly."""
    stream = _replay_events(spark, sf_dir)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    views = stream.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    joined = stream_queries.interval_join_stream(
        purchases,
        views,
        key="user_id",
        left_ts="purchase_ts",
        right_ts="view_ts",
        lookback="1 day",
        watermark_delay=_STREAM_WM,
    )
    return stream_sinks.run_to_memory(
        joined, f"reg_stream_ivj_{next(_STREAM_SEQ)}"
    )


@register(
    "streaming_interval_join_left",
    """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
    v AS (
      SELECT event_id AS view_id, user_id, ts AS view_ts, value AS view_value
      FROM events WHERE event_type = 'view'),
    m AS (
      SELECT p.user_id, purchase_id, purchase_ts,
             CAST(view_id AS DOUBLE) AS view_id, view_ts, view_value
      FROM p JOIN v
        ON v.user_id = p.user_id
       AND v.view_ts >= p.purchase_ts - INTERVAL 1 DAY
       AND v.view_ts <= p.purchase_ts)
    SELECT * FROM m
    UNION ALL
    SELECT p.user_id, purchase_id, purchase_ts,
           CAST(NULL AS DOUBLE) AS view_id,
           CAST(NULL AS TIMESTAMP) AS view_ts,
           CAST(NULL AS DOUBLE) AS view_value
    FROM p
    WHERE purchase_id NOT IN (SELECT purchase_id FROM m)
      -- Spark's query watermark is the MIN over both watermark operators
      -- (each side tracks its own max event time, ms-truncated), and a
      -- left row's NULL result emits on state eviction: ts strictly below
      -- the final watermark.
      AND purchase_ts <
          least(date_trunc('milliseconds',
                           (SELECT max(purchase_ts) FROM p)),
                date_trunc('milliseconds',
                           (SELECT max(view_ts) FROM v)))
          - INTERVAL 2 MINUTE
    """,
)
def q_streaming_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream LEFT OUTER interval join: unmatched purchases emit a
    NULL-padded row only on state eviction — strictly below the final
    watermark, which is the MIN over both sides' watermark operators
    (min(max purchase ts, max view ts) − delay, ms-truncated); newer
    unmatched purchases never emit. The oracle states exactly that
    emission set, making Spark's outer-join eviction semantics themselves
    oracle-checked. view_id is DOUBLE on both sides (nullable-BIGINT
    bridge rule)."""
    stream = _replay_events(spark, sf_dir)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    views = stream.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    joined = stream_queries.interval_join_stream(
        purchases,
        views,
        key="user_id",
        left_ts="purchase_ts",
        right_ts="view_ts",
        lookback="1 day",
        watermark_delay=_STREAM_WM,
        how="left_outer",
    ).withColumn("view_id", F.col("view_id").cast("double"))
    return stream_sinks.run_to_memory(
        joined, f"reg_stream_ivjl_{next(_STREAM_SEQ)}"
    )


@register(
    "streaming_interval_join_right",
    """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
    v AS (
      SELECT event_id AS view_id, user_id, ts AS view_ts, value AS view_value
      FROM events WHERE event_type = 'view'),
    m AS (
      SELECT p.user_id, CAST(purchase_id AS DOUBLE) AS purchase_id,
             purchase_ts, view_id, view_ts, view_value
      FROM p JOIN v
        ON v.user_id = p.user_id
       AND v.view_ts >= p.purchase_ts - INTERVAL 1 DAY
       AND v.view_ts <= p.purchase_ts)
    SELECT * FROM m
    UNION ALL
    SELECT v.user_id, CAST(NULL AS DOUBLE) AS purchase_id,
           CAST(NULL AS TIMESTAMP) AS purchase_ts,
           view_id, view_ts, view_value
    FROM v
    WHERE view_id NOT IN (SELECT view_id FROM m)
      -- A view can still match purchases up to view_ts + lookback; its
      -- NULL row emits only when the final watermark (MIN over both
      -- sides' ms-truncated max event times, minus the delay) passes
      -- that point.
      AND view_ts + INTERVAL 1 DAY <
          least(date_trunc('milliseconds',
                           (SELECT max(purchase_ts) FROM p)),
                date_trunc('milliseconds',
                           (SELECT max(view_ts) FROM v)))
          - INTERVAL 2 MINUTE
    """,
)
def q_streaming_interval_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream RIGHT OUTER interval join: unmatched views emit a
    NULL-padded purchase side only on state eviction — once the watermark
    passes view_ts + lookback (the last instant a matching purchase could
    arrive). Completes the inner/left/full/right family; purchase_id is
    DOUBLE on both sides (nullable-BIGINT bridge rule)."""
    stream = _replay_events(spark, sf_dir)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    views = stream.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    joined = stream_queries.interval_join_stream(
        purchases,
        views,
        key="user_id",
        left_ts="purchase_ts",
        right_ts="view_ts",
        lookback="1 day",
        watermark_delay=_STREAM_WM,
        how="right_outer",
    ).withColumn("purchase_id", F.col("purchase_id").cast("double"))
    return stream_sinks.run_to_memory(
        joined, f"reg_stream_ivjr_{next(_STREAM_SEQ)}"
    )


# --------------------------------------------------------------------------
# Additional text / fingerprint queries (north-star breadth)
# --------------------------------------------------------------------------

@register(
    "word_count_topk",
    r"""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
    w AS (SELECT unnest(t) AS word FROM toks),
    c AS (SELECT word, count(*) AS n FROM w GROUP BY word)
    SELECT word, n FROM c
    QUALIFY row_number() OVER (ORDER BY n DESC, word ASC) <= 50
    """,
)
def q_word_count_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical corpus token histogram: top-50 tokens by frequency
    (deterministic tiebreak). Map-side partial counts; only (word, n)
    pairs shuffle."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens_col(F.col("text"))
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(50)
    )


_SIG_ORACLE = _SHINGLES_CTE + """
, ds AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
dsh AS (
  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 7))::UBIGINT AS BIGINT) AS h
  FROM ds)
SELECT doc_id,
  {minhash_cols}
FROM dsh GROUP BY doc_id
"""


@register(
    "minhash_signatures",
    _SIG_ORACLE.format(
        minhash_cols=",\n  ".join(
            f"min(({a} * h + {b}) % {text.MINHASH_P}) AS mh{i}"
            for i, (a, b) in enumerate(text.minhash_coeffs(12))
        )
    ),
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw k=12 MinHash signature table (bit-exact across engines via
    the shared universal-hash constants)."""
    return text.minhash_signatures(_t(spark, sf_dir, "documents"))


_SIMHASH_FP_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
dt AS (SELECT DISTINCT doc_id, unnest(t) AS tok FROM toks),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT AS BIGINT) AS h
      FROM dt),
votes AS (
  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) b
  GROUP BY 1, 2)
SELECT doc_id,
  CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
       AS BIGINT) AS simhash
FROM votes GROUP BY 1
"""


@register("simhash_fingerprints", _SIMHASH_FP_ORACLE)
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash fingerprints (the near-dup pairs query
    consumes these; exposed standalone for indexing/persistence)."""
    return text.simhash_fingerprint(_t(spark, sf_dir, "documents"))


@register(
    "multimodal_frame_sample",
    """
    WITH v AS (
      SELECT doc_id, CAST(doc_id % 30 + 1 AS INT) AS n_frames FROM documents),
    f AS (
      SELECT doc_id, n_frames,
             unnest(generate_series(0, n_frames - 1, 5)) AS frame_idx
      FROM v)
    SELECT doc_id, n_frames, CAST(frame_idx AS INT) AS frame_idx,
           md5('F' || doc_id || ':' || frame_idx || ';') AS frame_fingerprint
    FROM f
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: genuine RIFF/AVI containers are written
    by the stdlib encoder, then the kernel PARSES each container (chunk
    walk, avih/strh headers, 'movi' frame slices), takes n_frames from the
    parse — never from the doc_id — and fingerprints every 5th frame's
    actual byte slice. The oracle reconstructs the known frame payloads
    (ASCII by design, like an opaque MJPG blob) and their md5, so a hash
    match proves the container walk sliced the exact frame bytes the
    encoder wrote, at the exact declared frame count."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.sample_frames(multimodal.synthesize_payload(docs, "video/avi"))


@register(
    "multimodal_audio_decode",
    """
    SELECT doc_id,
           CAST(44 + (doc_id % 400) + 100 AS INT) AS n_bytes,
           CAST(1 AS INT) AS n_channels,
           CAST(1 AS INT) AS sample_width,
           CAST(8000 AS INT) AS sample_rate,
           CAST(100 + (doc_id % 400) AS INT) AS n_samples,
           ((100 + (doc_id % 400)) * 1000.0) / 8000 AS duration_ms,
           'stdlib-wave' AS decoder
    FROM documents
    """,
)
def q_multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path (not a stub): deterministic 8-bit PCM WAV
    payloads are encoded with the stdlib `wave` writer, then parsed back
    by the stdlib `wave` reader inside an Arrow mapInPandas kernel. The
    oracle states the closed-form container metadata (44-byte RIFF header
    + n_samples data bytes, mono, 8 kHz), so a hash match proves the
    encode → binary column → parse round-trip recovered every field
    through a genuine RIFF parse."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_audio(multimodal.synthesize_payload(docs, "audio/wav"))


@register(
    "multimodal_image_decode",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 25 AS INT) AS width,
             CAST(8 + (doc_id * 3) % 17 AS INT) AS height
      FROM documents),
    px AS (
      SELECT doc_id, width, height,
             unnest(generate_series(0, height - 1)) AS y
      FROM dims),
    m AS (
      SELECT doc_id, avg(CAST((doc_id + y) % 256 AS DOUBLE)) AS mean_pixel
      FROM px GROUP BY 1)
    SELECT d.doc_id,
           CAST(54 + ((3 * d.width + 3) // 4) * 4 * d.height AS INT) AS n_bytes,
           d.width, d.height, CAST(24 AS INT) AS bpp,
           m.mean_pixel,
           'struct-bmp' AS decoder
    FROM dims d JOIN m USING (doc_id)
    """,
)
def q_multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec path (not a stub): deterministic 24-bit BMPs are
    written with stdlib struct, then parsed back — header geometry AND the
    mean channel value computed from the decoded pixel array — inside an
    Arrow mapInPandas kernel. The oracle states the closed-form container
    metadata and per-row pixel average, so a hash match proves the decode
    read the actual pixel bytes (stride padding excluded) through a
    genuine DIB parse."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_image(multimodal.synthesize_payload(docs, "image/bmp"))


@register(
    "multimodal_audio_features",
    """
    WITH d AS (SELECT doc_id, 100 + doc_id % 400 AS n FROM documents),
    smp AS (
      SELECT doc_id, n, i, ((doc_id * 31 + i * 7) % 256) - 128 AS s
      FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM d)),
    nxt AS (
      SELECT doc_id, n, i, s,
             lead(s) OVER (PARTITION BY doc_id ORDER BY i) AS s2
      FROM smp)
    SELECT doc_id,
           CAST(max(n) AS INT) AS n_samples,
           sqrt(sum(s * s) / CAST(max(n) AS DOUBLE)) AS rms,
           CAST(sum(CASE WHEN s2 IS NOT NULL AND s * s2 < 0
                         THEN 1 ELSE 0 END) AS INT) AS zero_crossings,
           CAST(max(abs(s)) AS INT) AS peak
    FROM nxt GROUP BY 1
    """,
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction (not the byte-histogram stub): the
    WAV payload is container-parsed and its PCM frames decoded; RMS
    energy, zero-crossing count and peak come from the actual sample
    array. The oracle reconstructs the deterministic sample series in SQL
    — integer moment sums are exact and sqrt is IEEE correctly rounded in
    both engines, so even the RMS double hash-checks without rounding."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.audio_features(multimodal.synthesize_payload(docs, "audio/wav"))


@register(
    "multimodal_image_resize",
    """
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id * 3) % 17 AS h
      FROM documents),
    d2 AS (SELECT doc_id, w, h, greatest(w, h) AS mx FROM dims),
    d3 AS (
      SELECT doc_id, w, h,
        CASE WHEN mx > 16 THEN greatest(1, (w * 16) // mx) ELSE w END AS dst_w,
        CASE WHEN mx > 16 THEN greatest(1, (h * 16) // mx) ELSE h END AS dst_h
      FROM d2),
    rowsy AS (
      SELECT doc_id, h, dst_h, unnest(generate_series(0, dst_h - 1)) AS y
      FROM d3),
    m AS (
      -- image row j (top-down, after the decoder's bottom-up flip) has
      -- value (doc_id + h - 1 - j) % 256; dst row y samples (y*h)//dst_h
      SELECT doc_id,
             avg(CAST((doc_id + h - 1 - (y * h) // dst_h) % 256 AS DOUBLE))
               AS resized_mean
      FROM rowsy GROUP BY 1)
    SELECT d3.doc_id, CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h,
           CAST(dst_w AS INT) AS dst_w, CAST(dst_h AS INT) AS dst_h,
           m.resized_mean
    FROM d3 JOIN m USING (doc_id)
    """,
)
def q_multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel resize (the half resize_meta only planned): decode the
    BMP array, nearest-neighbor downsample with floor index maps, and
    report the mean of the RESAMPLED array. The oracle replays the exact
    index arithmetic (floor division on both sides — round() would
    diverge between Python banker's and SQL half-up) over the known
    per-row pixel pattern, so the resampled mean hash-checks exactly."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.resize_image(multimodal.synthesize_payload(docs, "image/bmp"))


@register(
    "multimodal_png_decode",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 21 AS INT) AS width,
             CAST(8 + (doc_id * 5) % 13 AS INT) AS height
      FROM documents),
    xs AS (SELECT doc_id, width, height,
                  unnest(generate_series(0, width - 1)) AS x FROM dims),
    xy AS (SELECT doc_id, height, x,
                  unnest(generate_series(0, height - 1)) AS y FROM xs),
    m AS (
      SELECT doc_id,
             avg(CAST((doc_id + 3 * y + 7 * x) % 256 AS DOUBLE)) AS mean_pixel
      FROM xy GROUP BY 1)
    SELECT d.doc_id, d.width, d.height,
           CAST(8 AS INT) AS bit_depth, CAST(3 AS INT) AS channels,
           m.mean_pixel, 'stdlib-png' AS decoder
    FROM dims d JOIN m USING (doc_id)
    """,
)
def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG codec path (not a stub, stdlib zlib+struct only):
    deterministic 8-bit RGB PNGs are written with per-row filter types
    cycling through ALL FIVE spec filters (None/Sub/Up/Average/Paeth),
    then parsed back — CRC-verified chunk walk, IDAT inflate, filter
    inversion — and the mean channel value is computed from the decoded
    pixel array. The oracle states the closed-form per-pixel pattern
    (filters are lossless), so a hash match proves the decoder inverted
    every filter type over every image correctly."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_png(multimodal.synthesize_payload(docs, "image/png"))


@register(
    "multimodal_jpeg_decode",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(9 + doc_id % 20 AS INT) AS width,
             CAST(9 + (doc_id * 3) % 14 AS INT) AS height
      FROM documents),
    xs AS (SELECT doc_id, width, height,
                  unnest(generate_series(0, width - 1)) AS x FROM dims),
    xy AS (SELECT doc_id, height, x,
                  unnest(generate_series(0, height - 1)) AS y FROM xs),
    m AS (
      SELECT doc_id,
             avg(CAST((doc_id + 5 * (x // 8) + 11 * (y // 8)) % 256
                      AS DOUBLE)) AS mean_pixel
      FROM xy GROUP BY 1)
    SELECT d.doc_id, d.width, d.height,
           CAST(1 AS INT) AS n_components, CAST(8 AS INT) AS precision,
           m.mean_pixel, 'stdlib-jpeg' AS decoder
    FROM dims d JOIN m USING (doc_id)
    """,
)
def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG codec path (ITU T.81, numpy+struct only): the
    encoder runs the genuine pipeline — level shift, 8x8 forward DCT,
    IJG-scaled Annex-K quantization, zigzag, differential-DC + RLE-AC
    magnitude coding, canonical Huffman with 0xFF stuffing — and the
    decoder fully inverts it, rebuilding the Huffman tables from the
    stream's own DHT segments. The synthesized images are block-constant,
    which makes the DC-only path integer-exact at quality 75 (quant step
    8): decode(encode(img)) == img bit-for-bit, so the oracle can state
    the decoded mean in closed form — a hash match proves the whole
    marker walk + entropy decode + IDCT chain, not just the geometry.
    The lossy AC path is PSNR-pinned in tests/test_multimodal.py."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_jpeg(multimodal.synthesize_payload(docs, "image/jpeg"))


@register(
    "multimodal_video_decode",
    """
    WITH v AS (
      SELECT doc_id,
             CAST(16 + doc_id % 9 AS INT) AS width,
             CAST(12 + doc_id % 7 AS INT) AS height,
             CAST(doc_id % 30 + 1 AS INT) AS n_frames
      FROM documents),
    f AS (
      SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS i FROM v),
    fb AS (
      SELECT doc_id,
             CAST(sum(length('F' || doc_id || ':' || i || ';')) AS INT)
               AS total_frame_bytes
      FROM f GROUP BY 1)
    SELECT v.doc_id, v.width, v.height, v.n_frames, fb.total_frame_bytes,
           'stdlib-avi' AS decoder
    FROM v JOIN fb USING (doc_id)
    """,
)
def q_multimodal_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video container path: genuine RIFF/AVI trees (hdrl/strl/movi)
    are written, then walked back — geometry from avih, frame count and
    byte totals from the actual 'movi' chunk slices, with a declared-vs-
    present frame-count cross-check. The oracle reconstructs the known
    frame payload lengths, so a hash match proves the walk found every
    frame chunk (even-padding and all) and the header geometry."""
    docs = _t(spark, sf_dir, "documents")
    avi = multimodal.synthesize_payload(docs, "video/avi")
    return multimodal.decode_video(avi).select(
        "doc_id", "width", "height", "n_frames", "total_frame_bytes", "decoder"
    )


@register(
    "multimodal_mp4_decode",
    """
    WITH v AS (
      SELECT doc_id,
             CAST(32 + doc_id % 11 AS INT) AS width,
             CAST(24 + doc_id % 5 AS INT) AS height,
             CAST(doc_id % 24 + 1 AS INT) AS n_frames
      FROM documents),
    f AS (
      SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS i FROM v),
    fb AS (
      SELECT doc_id,
             CAST(sum(length('M' || doc_id || ':' || i || ';')) AS INT)
               AS total_frame_bytes
      FROM f GROUP BY 1)
    SELECT v.doc_id,
           CAST(599 + 4 * v.n_frames + fb.total_frame_bytes AS INT) AS n_bytes,
           v.width, v.height, v.n_frames, fb.total_frame_bytes,
           ((v.n_frames * 3000) * 1000.0) / 90000 AS duration_ms,
           'avc1' AS codec, 'stdlib-bmff' AS decoder
    FROM v JOIN fb USING (doc_id)
    """,
)
def q_multimodal_mp4_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 (ISO BMFF) container path: spec-shaped box trees — ftyp,
    mdat, moov(mvhd, trak(tkhd, mdia(mdhd, hdlr, minf(stbl(stsd avc1,
    stts, stsc, stsz, stco))))) — are written with stdlib struct, then
    walked back generically: geometry from tkhd's 16.16 fixed-point
    fields, timescale/duration from mdhd, and every sample's byte slice
    resolved through the genuine stsc/stco/stsz chunk-map algorithm with
    an stts cross-check. The oracle states the closed-form container size
    (599 fixed bytes + 4 per stsz entry + frame payload), per-frame byte
    totals, and the tick-arithmetic duration, so a hash match proves the
    box walk and the sample map both recovered exactly what the writer
    laid down."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_mp4(multimodal.synthesize_payload(docs, "video/mp4"))


@register(
    "multimodal_mixed_container_sample",
    """
    WITH v AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 30 + 1 AS INT)
                  ELSE CAST(doc_id % 24 + 1 AS INT) END AS n_frames,
             CASE WHEN doc_id % 2 = 0 THEN 'F' ELSE 'M' END AS tag
      FROM documents),
    f AS (
      SELECT doc_id, n_frames, tag,
             unnest(generate_series(0, n_frames - 1, 5)) AS frame_idx
      FROM v)
    SELECT doc_id, n_frames, CAST(frame_idx AS INT) AS frame_idx,
           md5(tag || doc_id || ':' || frame_idx || ';') AS frame_fingerprint
    FROM f
    """,
)
def q_multimodal_mixed_container_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a MIXED-container corpus: even doc_ids carry
    RIFF/AVI payloads, odd doc_ids ISO BMFF/MP4, in one binary column.
    The kernel sniffs each row's magic and dispatches to the matching
    real parser (_container_parse), so frame counts and byte slices come
    from two different genuine container walks in the same Arrow batch.
    The oracle reconstructs both containers' known frame payloads and
    counts per parity, proving the dispatch picked the right parser for
    every row."""
    docs = _t(spark, sf_dir, "documents")
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    avi = multimodal.synthesize_payload(evens, "video/avi")
    mp4 = multimodal.synthesize_payload(odds, "video/mp4")
    return multimodal.sample_frames(avi.unionByName(mp4))


@register(
    "multimodal_mjpg_frame_decode",
    """
    WITH v AS (
      SELECT doc_id,
             CAST(8 + doc_id % 9 AS INT) AS frame_w,
             CAST(8 + doc_id % 7 AS INT) AS frame_h,
             CAST(doc_id % 4 + 1 AS INT) AS n_frames
      FROM documents),
    f AS (
      SELECT doc_id, frame_w, frame_h, n_frames,
             CAST(unnest(generate_series(0, n_frames - 1, 2)) AS INT)
               AS frame_idx
      FROM v),
    xs AS (SELECT doc_id, frame_idx, frame_w, frame_h,
                  unnest(generate_series(0, frame_w - 1)) AS x FROM f),
    xy AS (SELECT doc_id, frame_idx, frame_h, x,
                  unnest(generate_series(0, frame_h - 1)) AS y FROM xs),
    m AS (
      SELECT doc_id, frame_idx,
             avg(CAST((doc_id + 7 * frame_idx + 5 * (x // 8) + 11 * (y // 8))
                      % 256 AS DOUBLE)) AS mean_pixel
      FROM xy GROUP BY 1, 2)
    SELECT f.doc_id, f.n_frames, f.frame_idx, f.frame_w, f.frame_h,
           m.mean_pixel, 'stdlib-jpeg' AS decoder
    FROM f JOIN m USING (doc_id, frame_idx)
    """,
)
def q_multimodal_mjpg_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPG frame PIXEL decode end-to-end (VERDICT r4 #3): genuine
    RIFF/AVI containers whose '00dc' frames are real baseline JPEGs are
    walked, every 2nd frame's byte slice is pulled out, and
    _decode_compressed's in-repo T.81 path (stream-described Huffman
    tables, entropy decode, dequantize, IDCT) produces each sampled
    frame's pixel mean. Frames are block-constant per (doc, frame), so
    the DC-only path is integer-exact and the oracle states every
    sampled frame's decoded mean in closed form — a hash match proves
    container walk + frame slicing + full JPEG decode together. The PIL
    gate now remains only for codecs the repo has no decoder for
    (H.264)."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_mjpg_frames(
        multimodal.synthesize_payload(docs, "video/mjpg-avi")
    )


_MULTIMODAL_FEATURES_ORACLE = """
WITH d AS (
  SELECT doc_id, CAST(100 + doc_id % 400 AS BIGINT) AS n FROM documents),
b AS (
  SELECT doc_id, n, n + 44 AS total,
    list_concat(
      [82,73,70,70, (36+n)%256, (36+n)//256, 0,0,
       87,65,86,69, 102,109,116,32, 16,0,0,0, 1,0, 1,0,
       64,31,0,0, 64,31,0,0, 1,0, 8,0,
       100,97,116,97, n%256, n//256, 0,0],
      list_transform(range(0, n), i -> (doc_id*31 + i*7) % 256)
    ) AS bs
  FROM d),
m AS (
  SELECT doc_id, total,
    list_transform(range(0, 16), r ->
      CAST(len(list_filter(bs, x -> x % 16 = r)) AS BIGINT) * 1000000 // total
    ) AS micro
  FROM b)
SELECT doc_id, 'audio/wav' AS media_type,
       CAST(total AS BIGINT) AS n_bytes,
       array_to_string(micro, ',') AS features_csv
FROM m
"""


@register("multimodal_features", _MULTIMODAL_FEATURES_ORACLE)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram feature extraction through Arrow mapInPandas —
    lifted from rows-only to an EXACT oracle (VERDICT r13 #1/#4). Two
    changes close r13's one red CORRECTNESS row: (1) the registered
    query now emits the SCALAR features_csv face of the operator (the
    driver's pandas canonicalizer cannot hash array cells — it crashed
    on the old array<double> output), serializing the micro-int vector
    inside the Arrow kernel so no double is ever formatted by an
    engine; (2) it runs over the "audio/wav" payloads — the payload
    family whose container bytes are fully closed-form (44-byte RIFF
    header + affine sample stream, multimodal._wav_bytes), so the
    DuckDB oracle restates every byte and the histogram exactly. The
    mixed PNG/AVI/WAV path (attach_binary_payload, zlib-deflated IDAT
    bytes — not SQL-replayable) keeps its coverage via
    multimodal_decode + tests/test_multimodal.py, which also pins that
    extract_features (array face) == features_csv reparsed."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.extract_features_csv(
        multimodal.synthesize_payload(docs, "audio/wav")
    )


def _lang_ngram_oracle() -> str:
    scores = []
    for code, grams in sorted(text.TRIGRAM_PROFILES.items()):
        arr = "[" + ",".join(f"'{g}'" for g in grams) + "]"
        scores.append(
            f"round(len(list_filter(tri, x -> list_contains({arr}, x)))"
            f" / greatest(len(tri), 1), 6) AS score_{code}"
        )
    cols = ",\n      ".join(scores)
    return f"""
    WITH d AS (SELECT doc_id, lang, lower(trim(text)) AS t FROM documents),
    g AS (
      SELECT doc_id, lang,
             list_transform(generate_series(1, greatest(length(t) - 2, 1)),
                            i -> substr(t, i, 3)) AS tri
      FROM d),
    scored AS (SELECT doc_id, lang, {cols} FROM g)
    SELECT doc_id, lang, score_de, score_en, score_es, score_fr,
      CASE
        WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
        WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
        WHEN score_es >= score_fr THEN 'es'
        ELSE 'fr' END AS predicted_lang
    FROM scored
    """


@register("lang_id_ngram", _lang_ngram_oracle())
def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language ID (the n-gram heuristic variant of lang_id)."""
    return text.lang_id_ngram(_t(spark, sf_dir, "documents"))



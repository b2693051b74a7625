"""Round-9 additions: deepened in-engine gradient boosting (4 rounds),
plus the round's new operator waves.

Registered AFTER q14_round8 (registry/__init__.py import order) so the
existing ``queries()`` tail stays byte-stable.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401

from .q14_round8 import _gbdt_oracle


_BINCODE_CTE = """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    codes AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(e, (x, i) ->
               CASE WHEN i <= 32 AND x > 0
                    THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END))
               AS BIGINT) AS w_lo,
             CAST(list_sum(list_transform(e, (x, i) ->
               CASE WHEN i > 32 AND x > 0
                    THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END))
               AS BIGINT) AS w_hi
      FROM emb)
"""

_BIN_HAMMING_ORACLE = (
    _BINCODE_CTE
    + """
    , q AS (SELECT vec_id AS query_id, w_lo AS q_lo, w_hi AS q_hi
            FROM codes WHERE vec_id < 20),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q_lo, c.w_lo))
                  + bit_count(xor(q_hi, c.w_hi)) AS BIGINT) AS hamming
      FROM q CROSS JOIN codes c WHERE c.vec_id != query_id),
    ranked AS (
      SELECT query_id, neighbor_id, hamming,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY hamming ASC, neighbor_id ASC) AS INT) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, hamming, rnk FROM ranked WHERE rnk <= 5
    """
)


@register("binary_hamming_topk", _BIN_HAMMING_ORACLE)
def q_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized first-stage retrieval (similarity.binary_quantize
    + binary_hamming_topk): sign-bit codes (two 32-bit words per vector,
    16 bytes vs 512 — the compression that lets a 100 TB float corpus's
    code table actually scan) ranked by exact Hamming distance — pure
    64-bit integer XOR/popcount on both engines, so unlike the cosine
    family this serve path needs no rounding discipline at all. Probe
    side broadcasts, corpus streams, salted two-level top-k."""
    from ..operators import similarity

    return similarity.binary_hamming_topk(_t(spark, sf_dir, "embeddings"))


def _bin_recall_oracle() -> str:
    """Compose the two verified rankings (float cosine top-5 and binary
    Hamming top-5) as derived-table subqueries — the CLAUDE.md
    composition rule — and measure overlap per query."""
    float_sql = _REGISTRY["embedding_topk_bruteforce"].oracle
    binary_sql = _REGISTRY["binary_hamming_topk"].oracle
    return f"""
    WITH ftop AS (SELECT query_id, neighbor_id FROM ({float_sql}) f),
    btop AS (SELECT query_id, neighbor_id FROM ({binary_sql}) b),
    hits AS (
      SELECT f.query_id, count(*) AS n_overlap
      FROM ftop f JOIN btop b
        ON b.query_id = f.query_id AND b.neighbor_id = f.neighbor_id
      GROUP BY 1)
    SELECT f.query_id,
           CAST(coalesce(h.n_overlap, 0) AS DOUBLE) AS n_overlap_d,
           CAST(coalesce(h.n_overlap, 0) * 200000 AS DOUBLE)
             AS recall_ppm_d
    FROM (SELECT DISTINCT query_id FROM ftop) f
    LEFT JOIN hits h ON h.query_id = f.query_id
    """


@register("binary_vs_float_recall", _bin_recall_oracle())
def q_binary_vs_float_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the binary-Hamming shortlist against the exact float
    cosine ranking, per query — the quantization-quality eval that
    decides whether the 32x-compressed first stage is good enough to
    front the float re-ranker. Both rankings are the verified operators;
    overlap is a tiny join on (query, neighbor); recall_ppm = overlap *
    200000 (exact integers end to end)."""
    from ..operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    f = similarity.brute_force_topk(emb).select("query_id", "neighbor_id")
    b = similarity.binary_hamming_topk(emb).select(
        F.col("query_id").alias("bq"), F.col("neighbor_id").alias("bn")
    )
    hits = f.join(
        b,
        (F.col("query_id") == F.col("bq"))
        & (F.col("neighbor_id") == F.col("bn")),
    ).groupBy("query_id").agg(F.count(F.lit(1)).alias("n_overlap"))
    qs = f.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_overlap"), F.lit(0))
        .cast("double")
        .alias("n_overlap_d"),
        (F.coalesce(F.col("n_overlap"), F.lit(0)) * 200000)
        .cast("double")
        .alias("recall_ppm_d"),
    )


_TRIPLES_ORACLE = """
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tri AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
             count(*) AS support
      FROM op a
      JOIN op b ON b.l_orderkey = a.l_orderkey
                AND b.l_partkey > a.l_partkey
      JOIN op c ON c.l_orderkey = a.l_orderkey
                AND c.l_partkey > b.l_partkey
      GROUP BY 1, 2, 3)
    SELECT p1, p2, p3, CAST(support AS DOUBLE) AS support_d
    FROM tri WHERE support >= 2
"""


@register("frequent_triples", _TRIPLES_ORACLE)
def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over market baskets (the next rung above
    copurchase_lift's pairs): ordered triples p1 < p2 < p3 co-occurring
    in >= 2 distinct orders. Scale shape: the within-order double
    self-join is BASKET-bounded — TPC-H orders carry <= 7 lines, so an
    order emits <= C(7,3)=35 triples and the stage is linear in
    lineitem; on hub-prone data the same data-adaptive degree cap as
    link_prediction applies before the second join. The support
    aggregation is one map-combined groupBy on the triple key."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    b = op.select(
        F.col("l_orderkey").alias("__ok1"), F.col("l_partkey").alias("p2")
    )
    c = op.select(
        F.col("l_orderkey").alias("__ok2"), F.col("l_partkey").alias("p3")
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
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return tri.where(F.col("support") >= 2).select(
        "p1", "p2", "p3", F.col("support").cast("double").alias("support_d")
    )


_LANG_BUDGET_ORACLE = """
    WITH per AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    tot AS (SELECT sum(n) AS t FROM per),
    one AS (
      SELECT list_sort(list(struct_pack(lang := lang, n := n))) AS ls
      FROM per),
    tw AS (
      SELECT list_sum(list_transform(o.ls,
               x -> sqrt(CAST(x.n AS DOUBLE)))) AS w_total
      FROM one o)
    SELECT p.lang,
           CAST(p.n AS DOUBLE) AS n_docs_d,
           CAST((p.n * 1000000) // (SELECT t FROM tot) AS DOUBLE)
             AS share_ppm_d,
           sqrt(CAST(p.n AS DOUBLE)) AS w_sqrt,
           CAST(CAST(floor(1000000 * sqrt(CAST(p.n AS DOUBLE))
                           / (SELECT w_total FROM tw)) AS BIGINT)
             AS DOUBLE) AS alloc_tokens_d
    FROM per p
"""


@register("lang_budget_temperature", _LANG_BUDGET_ORACLE)
def q_lang_budget_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling budget (the UniMax /
    mT5-style upsampling recipe at τ = 2: sampling weight ∝ share^(1/2),
    lifting low-resource languages without letting any language
    dominate): per language the doc count, exact share in ppm, the
    sqrt weight, and the allocated slice of a 1M-token budget.

    Float discipline: sqrt is correctly-rounded IDENTICALLY on both
    engines, and the weight-sum folds over the SORTED language list in
    a defined sequential order (Spark F.aggregate over sort_array;
    DuckDB list_sum over list_sort) — a groupBy sum of doubles would be
    partitioning-ordered and diverge in the last ulp. τ = 2 is the
    rational-exponent member of the temperature family (arbitrary τ
    needs pow(), which the cross-engine discipline forbids); the
    monotone ordering of allocations is τ-independent."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    one = per.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("lang"), F.col("n")))
        ).alias("ls"),
        F.sum("n").alias("t"),
    )
    w_total = F.aggregate(
        F.transform(F.col("ls"), lambda x: F.sqrt(x["n"].cast("double"))),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    return (
        one.select(
            F.explode("ls").alias("x"),
            "t",
            w_total.alias("w_total"),
        )
        .select(
            F.col("x.lang").alias("lang"),
            F.col("x.n").cast("double").alias("n_docs_d"),
            F.expr("CAST((x.n * 1000000L) div t AS DOUBLE)").alias(
                "share_ppm_d"
            ),
            F.sqrt(F.col("x.n").cast("double")).alias("w_sqrt"),
            F.expr(
                "CAST(CAST(floor(1000000 * sqrt(CAST(x.n AS DOUBLE))"
                " / w_total) AS BIGINT) AS DOUBLE)"
            ).alias("alloc_tokens_d"),
        )
    )


def _canonical_pick_oracle() -> str:
    """Compose the verified components and doc-quality statements; pick
    per group by (quality desc, doc_id asc)."""
    comp_sql = _REGISTRY["dedup_components"].oracle
    dq_sql = _REGISTRY["doc_quality_score"].oracle
    return f"""
    WITH comp AS (SELECT doc_id, group_id, group_size
                  FROM ({comp_sql}) c),
    dq AS (SELECT doc_id, quality_score FROM ({dq_sql}) q),
    ranked AS (
      SELECT c.group_id, c.group_size, c.doc_id, d.quality_score,
             row_number() OVER (PARTITION BY c.group_id
                 ORDER BY d.quality_score DESC, c.doc_id ASC) AS rn
      FROM comp c JOIN dq d USING (doc_id))
    SELECT group_id,
           CAST(group_size AS DOUBLE) AS group_size_d,
           doc_id AS keep_doc_id,
           quality_score AS keep_quality
    FROM ranked WHERE rn = 1 AND group_size >= 2
    """


@register("canonical_representative_pick", _canonical_pick_oracle())
def q_canonical_representative_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'keep WHICH copy' decision dedup pipelines actually need:
    per near-dup group (>= 2 members), keep the HIGHEST-QUALITY member
    by the verified doc_quality_score (ties to the smallest doc_id) —
    min-id survivorship (dedup_components' group label) is arbitrary;
    quality-ranked survivorship preserves the best text, the step
    between 'groups found' and 'corpus written'. Composes two verified
    operators; the pick is a keyed top-1 over group-sized frames. The
    only corpus-scale work is the two inputs' own verified plans."""
    docs = _t(spark, sf_dir, "documents")
    pairs = text.ngram_jaccard_pairs(docs)
    comp = graph.dedup_groups(docs, pairs).select(
        "doc_id", "group_id", "group_size"
    )
    dq = _REGISTRY["doc_quality_score"].spark(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        comp.join(dq, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("group_size") >= 2))
        .select(
            "group_id",
            F.col("group_size").cast("double").alias("group_size_d"),
            F.col("doc_id").alias("keep_doc_id"),
            F.col("quality_score").alias("keep_quality"),
        )
    )


def _join_card_oracle() -> str:
    """Both sides' CMS grids rebuilt in SQL (the q06 _cms_oracle
    machinery), inner-producted per row, MIN over rows — vs the exact
    Σ f_a(k)·f_b(k)."""
    from ..operators.text import MINHASH_P
    from ..operators.topk import CMS_WIDTH
    from .q06_sketchseries import _CMS_HASH_SQL, _cms_coef_rows

    coef_rows = _cms_coef_rows()
    h = _CMS_HASH_SQL.format(key="k")
    lhs = f"""
    l_keys AS (
      SELECT CAST(l_partkey AS VARCHAR) AS k, count(*) AS n
      FROM lineitem GROUP BY 1),
    l_cells AS (
      SELECT i, (a * hh + b) % {MINHASH_P} % {CMS_WIDTH} AS col,
             sum(n) AS cnt
      FROM (SELECT k, n, {h} AS hh FROM l_keys) x
      CROSS JOIN coef GROUP BY 1, 2),
    p_keys AS (
      SELECT CAST(p_partkey AS VARCHAR) AS k, count(*) AS n
      FROM part WHERE p_size < 15 GROUP BY 1),
    p_cells AS (
      SELECT i, (a * hh + b) % {MINHASH_P} % {CMS_WIDTH} AS col,
             sum(n) AS cnt
      FROM (SELECT k, n, {h} AS hh FROM p_keys) x
      CROSS JOIN coef GROUP BY 1, 2)"""
    return f"""
    WITH coef(i, a, b) AS (VALUES {coef_rows}),{lhs},
    est_rows AS (
      SELECT l.i, sum(l.cnt * p.cnt) AS est
      FROM l_cells l JOIN p_cells p ON p.i = l.i AND p.col = l.col
      GROUP BY 1),
    exact AS (
      SELECT sum(l.n * p.n) AS x
      FROM l_keys l JOIN p_keys p ON p.k = l.k)
    SELECT CAST((SELECT x FROM exact) AS DOUBLE) AS exact_rows_d,
           CAST((SELECT min(est) FROM est_rows) AS DOUBLE)
             AS est_rows_d,
           CAST((SELECT min(est) FROM est_rows) * 1000000
                // (SELECT x FROM exact) AS DOUBLE) AS est_ratio_ppm_d
    """


@register("join_cardinality_estimate", _join_card_oracle())
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min JOIN-SIZE estimation (the AMS/CMS inner-product
    estimator, Alon-Matias-Szegedy '96 / Cormode-Muthukrishnan '05 —
    what a cost-based planner consults before choosing a join strategy
    at 100 TB, where exact key histograms are themselves a full shuffle):
    |A ⋈ B| is estimated by the per-row inner product of the two sides'
    CMS grids, MIN over depth rows (upper-bound-biased, like the point
    estimate), and compared against the exact Σ f_A(k)·f_B(k). Sides:
    lineitem.l_partkey vs part filtered p_size < 15 — selective enough
    that the estimate is non-trivial. Everything integer (the verified
    md5/affine grid), so estimate AND exact hash-check cross-engine;
    est >= exact by construction (pinned in pytest). The sketch build is
    one map-combined groupBy per side; the comparison joins two
    4x1024-cell grids."""
    from ..operators import topk as topk_ops

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("key")
    )
    pt = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_size") < 15)
        .select(F.col("p_partkey").alias("key"))
    )
    lc = topk_ops.cms_cells(li, "key")
    pc = topk_ops.cms_cells(pt, "key")
    est = (
        lc.join(
            pc.select(
                F.col("row_i"),
                F.col("col"),
                F.col("cnt").alias("cnt_b"),
            ),
            ["row_i", "col"],
        )
        .groupBy("row_i")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("est"))
        .agg(F.min("est").alias("est_rows"))
    )
    lk = li.groupBy("key").agg(F.count(F.lit(1)).alias("n_a"))
    pk = pt.groupBy("key").agg(F.count(F.lit(1)).alias("n_b"))
    exact = lk.join(pk, "key").agg(
        F.sum(F.col("n_a") * F.col("n_b")).alias("exact_rows")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("exact_rows").cast("double").alias("exact_rows_d"),
        F.col("est_rows").cast("double").alias("est_rows_d"),
        F.expr("CAST(est_rows * 1000000L div exact_rows AS DOUBLE)").alias(
            "est_ratio_ppm_d"
        ),
    )


def _incremental_dedup_oracle() -> str:
    """The verified minhash banding reproduced in SQL, restricted to
    pairs with exactly one member in the arriving batch (doc_id % 10 ==
    0) — band agreement is symmetric, so the asymmetric join's candidate
    set equals the symmetric candidates filtered to one-new."""
    from .q02_textdedup import _MINHASH_COLS, _MINHASH_SQL_BODY

    return _MINHASH_SQL_BODY.format(minhash_cols=_MINHASH_COLS) + """
    SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS new_doc,
           CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS old_doc,
           jaccard
    FROM pairs
    WHERE jaccard >= 0.8 AND ((doc_a % 10 = 0) != (doc_b % 10 = 0))
    """


def _verify_new_old(docs: DataFrame, cands: DataFrame) -> DataFrame:
    """(new_doc, old_doc, jaccard) for the candidate pairs with exact
    n-gram Jaccard >= 0.8, through the text operators' one exact verify."""
    from ..operators.text import _jaccard_pairs, _pair_counts

    pairs = cands.toDF("doc_a", "doc_b")
    return _jaccard_pairs(_pair_counts(docs, 3, pairs), 0.8).toDF(
        "new_doc", "old_doc", "jaccard"
    )


@register("incremental_near_dup_ingest", _incremental_dedup_oracle())
def q_incremental_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup screening — the shape a production ingest
    actually runs: the arriving batch (doc_id % 10 == 0 stands in for
    today's crawl) checks against the PERSISTED signature index of the
    existing corpus, never against itself and never all-pairs. The
    batch's bands equi-join the index's bands
    (text.minhash_candidate_pairs_between — asymmetric, so at 100 TB the
    join cost is |batch| x band collision rate, independent of corpus
    self-join volume); candidates verify with exact n-gram Jaccard >=
    0.8. Output (new_doc, old_doc, jaccard): the duplicates to reject
    at the door. The oracle replays the banding symmetrically and
    filters to exactly-one-new — band agreement is symmetric, so the
    sets coincide."""
    from ..operators.text import minhash_candidate_pairs_between, minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 0
    sig = sizing.materialize(minhash_signatures(docs), "minhash signatures, read twice")
    cands = minhash_candidate_pairs_between(sig.filter(is_new), sig.filter(~is_new))
    return _verify_new_old(docs, cands)


@register("streaming_incremental_dedup", _incremental_dedup_oracle())
def q_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental near-dup gate AT THE STREAM BOUNDARY: arriving
    documents (the doc_id % 10 == 0 batch, replayed as a file stream)
    compute their minhash signature ROW-LOCALLY (JVM array fold over the
    row's own shingles — no shuffle, so the stage is stateless) and
    band-equi-join the STATIC persisted index per micro-batch — a
    stream-static join, append mode, zero streaming state. The drained
    candidate stream is the STATELESS emission (batch ≡ stream, the
    streaming_corpus_ingest idiom); exact-Jaccard verification runs in
    batch on the drained candidates against the static corpus, so the
    incremental batch oracle applies verbatim: each arrival's verdict
    depends only on the static index, never on its fellow arrivals."""
    from .q04_streamksql import _STREAM_SEQ
    from .q06_sketchseries import _replay_documents
    from ..operators.text import (
        MINHASH_P,
        _shingle_h,
        minhash_candidate_pairs_between,
        minhash_signatures,
        shingles,
        tokens_col,
    )

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    old_sig = minhash_signatures(old)

    from ..operators.text import minhash_coeffs

    sh = shingles(tokens_col(F.col("text")), 3)
    hs = F.transform(sh, lambda s: _shingle_h(s))
    sig_cols = [
        F.array_min(
            F.transform(
                hs, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)
            )
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(12))
    ]
    stream = _replay_documents(spark, sf_dir).filter(
        F.col("doc_id") % 10 == 0
    )
    stream_sig = stream.filter(F.size(sh) > 0).select("doc_id", *sig_cols)
    cands_stream = minhash_candidate_pairs_between(
        stream_sig, old_sig, distinct=False
    )
    drained = stream_sinks.run_to_memory(
        cands_stream,
        f"reg_stream_incdedup_{next(_STREAM_SEQ)}",
        output_mode="append",
    )
    return _verify_new_old(docs, drained.select("new_doc", "old_doc").distinct())


def _group_split_oracle() -> str:
    """Compose the verified dedup-components statement (derived table)
    with the corpus_hash_split bucket formula keyed on GROUP id."""
    comp_sql = _REGISTRY["dedup_components"].oracle
    b = (
        "('0x' || substr(md5('gsplit:' || CAST(group_id AS VARCHAR)), 1, 7))"
        "::UBIGINT::BIGINT % 100"
    )
    return f"""
    WITH comp AS (SELECT doc_id, group_id FROM ({comp_sql}) c)
    SELECT doc_id, group_id,
           CAST({b} AS DOUBLE) AS bucket_d,
           CASE WHEN {b} < 80 THEN 'train'
                WHEN {b} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM comp
    """


@register("group_aware_split", _group_split_oracle())
def q_group_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-PROOF train/val/test split: the assignment hashes the
    near-dup GROUP id (dedup component min-id), not the document id — so
    a document and its near-duplicates land in the SAME split by
    construction, the property that keeps eval sets honest
    (corpus_hash_split is per-doc and can put two near-identical texts
    on opposite sides of the train/test wall). Composes the verified
    components operator; the split itself is the same md5-bucket
    formula salted 'gsplit'. Scale: the components cost dominates; the
    assignment is one narrow expression on its output."""
    from ..operators.text import _hash_bucket

    docs = _t(spark, sf_dir, "documents")
    pairs = text.ngram_jaccard_pairs(docs)
    groups = graph.dedup_groups(docs, pairs).select("doc_id", "group_id")
    bucket = _hash_bucket(F.col("group_id"), salt="gsplit", mod=100)
    return groups.select(
        "doc_id",
        "group_id",
        bucket.cast("double").alias("bucket_d"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


def _leakage_oracle() -> str:
    """Cross-split near-dup pair counts under the naive per-doc split vs
    the group-aware split — both splits and the pair list are the
    verified statements, nested whole (the composition rule)."""
    pairs_sql = _REGISTRY["ngram_jaccard_pairs"].oracle
    naive_sql = _REGISTRY["corpus_hash_split"].oracle
    group_sql = _REGISTRY["group_aware_split"].oracle
    return f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({pairs_sql}) p),
    naive AS (SELECT doc_id, split FROM ({naive_sql}) n),
    grp AS (SELECT doc_id, split FROM ({group_sql}) g),
    n_leak AS (
      SELECT count(*) AS c FROM pairs
      JOIN naive a ON a.doc_id = doc_a
      JOIN naive b ON b.doc_id = doc_b
      WHERE a.split != b.split),
    g_leak AS (
      SELECT count(*) AS c FROM pairs
      JOIN grp a ON a.doc_id = doc_a
      JOIN grp b ON b.doc_id = doc_b
      WHERE a.split != b.split)
    SELECT CAST((SELECT count(*) FROM pairs) AS DOUBLE) AS n_pairs_d,
           CAST((SELECT c FROM n_leak) AS DOUBLE) AS naive_leaked_d,
           CAST((SELECT c FROM g_leak) AS DOUBLE) AS group_leaked_d
    """


@register("split_leakage_audit", _leakage_oracle())
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-contamination AUDIT: how many near-dup pairs straddle a
    split boundary under the naive per-doc hash split vs the group-aware
    split. group_leaked is ZERO BY CONSTRUCTION (both members share a
    component, components share a split) — and the audit still computes
    it from the data rather than asserting it, because the invariant is
    only as good as the components feeding it. Two broadcast-sized joins
    of the pair list against the assignments."""
    from ..operators.text import _hash_bucket

    docs = _t(spark, sf_dir, "documents")
    pairs = text.ngram_jaccard_pairs(docs).select(
        "doc_a", "doc_b"
    ).transform(sizing.materialize, "leakage pair list")
    naive = text.hash_split(docs).select("doc_id", "split")
    # Derive the group split from the AUDIT'S OWN checkpointed pair
    # frame (calling q_group_aware_split would re-run the heaviest
    # stage — the exact jaccard pair generator — a second time; the
    # materialization rule).
    groups = graph.dedup_groups(docs, pairs).select("doc_id", "group_id")
    gbucket = _hash_bucket(F.col("group_id"), salt="gsplit", mod=100)
    grp = groups.select(
        "doc_id",
        F.when(gbucket < 80, "train")
        .when(gbucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )

    def leaked(assign: DataFrame) -> DataFrame:
        return (
            pairs.join(
                assign.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("split").alias("sa"),
                ),
                "doc_a",
            )
            .join(
                assign.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("split").alias("sb"),
                ),
                "doc_b",
            )
            .filter(F.col("sa") != F.col("sb"))
            .agg(F.count(F.lit(1)).alias("c"))
        )

    n_pairs = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        n_pairs.crossJoin(
            F.broadcast(leaked(naive).select(F.col("c").alias("naive_c")))
        )
        .crossJoin(
            F.broadcast(leaked(grp).select(F.col("c").alias("group_c")))
        )
        .select(
            F.col("n_pairs").cast("double").alias("n_pairs_d"),
            F.col("naive_c").cast("double").alias("naive_leaked_d"),
            F.col("group_c").cast("double").alias("group_leaked_d"),
        )
    )


_ECE_ORACLE = """
    WITH g AS (
      SELECT least(9, CAST(floor(value / 50.0) AS BIGINT)) AS bin,
             count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS npos,
             sum(CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)) AS sc
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    per AS (
      SELECT bin, n,
             (npos * 1000000) // n AS acc_ppm,
             (sc * 20) // n AS conf_ppm
      FROM g)
    SELECT CAST(sum(n) AS DOUBLE) AS n_total_d,
           CAST(sum(n * abs(acc_ppm - conf_ppm)) // sum(n) AS DOUBLE)
             AS ece_ppm_d,
           CAST(max(abs(acc_ppm - conf_ppm)) AS DOUBLE) AS mce_ppm_d
    FROM per
"""


@register("ece_calibration_error", _ECE_ORACLE)
def q_ece_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error for the value-as-score screen — the
    single number the reliability diagram (score_calibration_bins)
    summarizes to: per fixed-width bin the |observed positive rate −
    mean normalized score| gap, n-weighted. All integer: accuracy in
    ppm via the verified calibration-bin division; confidence in ppm as
    sum(score cents)·20 div n (value spans [0, 500] → cents·1e6 div
    (n·50000) = cents·20 div n); ECE = Σ n·|gap| div N; MCE = max gap.
    One map-side-combined aggregation + a 10-row fold. NULL scores are
    excluded up front on both sides (ADVICE r9: floor(NULL/50) is NULL
    and least() null-skip would silently file them under bin 9,
    inflating its n while contributing nothing to npos/sc)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.groupBy(
        F.least(F.lit(9), F.floor(F.col("value") / 50.0))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("npos"),
        F.sum(
            F.expr("CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)")
        ).alias("sc"),
    )
    per = g.select(
        "n",
        F.expr("(npos * 1000000L) div n").alias("acc_ppm"),
        F.expr("(sc * 20) div n").alias("conf_ppm"),
    )
    return per.agg(
        F.sum("n").cast("double").alias("n_total_d"),
        F.expr(
            "CAST(sum(n * abs(acc_ppm - conf_ppm)) div sum(n) AS DOUBLE)"
        ).alias("ece_ppm_d"),
        F.max(F.abs(F.col("acc_ppm") - F.col("conf_ppm")))
        .cast("double")
        .alias("mce_ppm_d"),
    )


_SPAN_REWRITE_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, u.i - 1 AS pos,
             md5(array_to_string(list_slice(t, CAST(u.i AS INT),
                 CAST(u.i AS INT) + 7), ' ')) AS g
      FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i) u
      WHERE len(t) >= 8),
    dup AS (
      SELECT g FROM grams GROUP BY g
      HAVING count(DISTINCT doc_id) >= 2),
    starts AS (
      SELECT DISTINCT gr.doc_id, gr.pos
      FROM grams gr JOIN dup d ON d.g = gr.g),
    covered AS (
      SELECT DISTINCT doc_id, CAST(u.p AS BIGINT) AS p
      FROM starts, LATERAL (SELECT unnest(range(pos, pos + 8)) AS p) u),
    covlist AS (
      SELECT doc_id, list(p ORDER BY p) AS cov FROM covered GROUP BY 1),
    rewritten AS (
      SELECT tk.doc_id,
             len(tk.t) AS n_tokens,
             coalesce(len(cl.cov), 0) AS n_removed,
             list_filter(tk.t,
               (x, i) -> cl.cov IS NULL
                 OR NOT list_contains(cl.cov, CAST(i AS BIGINT) - 1))
               AS kept
      FROM toks tk LEFT JOIN covlist cl ON cl.doc_id = tk.doc_id)
    SELECT doc_id,
           CAST(n_tokens AS DOUBLE) AS n_tokens_d,
           CAST(n_removed AS DOUBLE) AS n_removed_d,
           -- DuckDB's array_to_string([]) is NULL where Spark's
           -- concat_ws over an empty array is '' — coalesce so a
           -- fully-removed document hashes identically (md5(''))
           md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_md5
    FROM rewritten
"""


@register("dedup_span_rewrite", _SPAN_REWRITE_ORACLE)
def q_dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicate-substring REMOVAL (Lee et al. ACL'22 — the
    transform duplicate_span_positions only measures): every 8-token
    gram occurring in >= 2 distinct documents marks its 8 positions
    covered; the rewrite keeps the uncovered tokens in order. Output is
    hash-pinned — md5 of the space-joined cleaned token stream on both
    engines — so the driver verifies the REWRITTEN BYTES, not just
    counts. Composes the verified span-position operator for the
    covered set; reconstruction is a narrow per-row filter over an
    indexed transform (docs are row-local; no token ever shuffles for
    the rewrite itself — only the 16-byte gram digests shuffle, the
    duplicate_span_positions discipline)."""
    from ..operators.text import duplicate_span_positions, tokens_col

    docs = _t(spark, sf_dir, "documents")
    spans = duplicate_span_positions(docs, k=8, min_docs=2)
    covered = spans.select(
        "doc_id",
        F.explode(F.expr("sequence(CAST(pos AS BIGINT), pos + 7)")).alias(
            "p"
        ),
    ).distinct()
    covlist = covered.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("p")).alias("cov")
    )
    base = docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
    joined = base.join(covlist, "doc_id", "left")
    kept = F.filter(
        F.expr(
            "transform(t, (x, i) -> CASE WHEN cov IS NULL"
            " OR NOT array_contains(cov, CAST(i AS BIGINT))"
            " THEN x END)"
        ),
        lambda x: x.isNotNull(),
    )
    return joined.select(
        "doc_id",
        F.size("t").cast("double").alias("n_tokens_d"),
        F.coalesce(F.size("cov"), F.lit(0))
        .cast("double")
        .alias("n_removed_d"),
        F.md5(F.concat_ws(" ", kept)).alias("cleaned_md5"),
    )


def _textrank_oracle(iters: int = 6) -> str:
    """Unrolled fixed-point PageRank over the word-adjacency graph —
    the q09 _pagerank_oracle algebra with a word-bigram edge CTE."""
    sql = f"""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents),
    adj AS (
      SELECT u.x[1] AS w1, u.x[2] AS w2
      FROM toks, LATERAL (SELECT unnest(list_transform(
        range(1, len(t)),
        i -> [t[CAST(i AS INT)], t[CAST(i AS INT) + 1]])) AS x) u),
    und AS (
      SELECT w1, w2 FROM adj
      WHERE length(w1) >= 4 AND length(w2) >= 4 AND w1 != w2),
    edges AS (SELECT DISTINCT src, dst FROM (
                SELECT w1 AS src, w2 AS dst FROM und
                UNION ALL SELECT w2, w1 FROM und) u),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*) AS n_nodes FROM nodes),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    r0 AS (SELECT node, (1000000000000 // n_nodes) AS pr
           FROM nodes CROSS JOIN nn)"""
    for i in range(1, iters + 1):
        sql += f""",
    r{i} AS (
      SELECT n.node,
             (15 * (1000000000000 // nn.n_nodes)) // 100
               + (85 * coalesce(s.acc, 0)) // 100 AS pr
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, sum(p.pr // d.outdeg) AS acc
        FROM edges e
        JOIN r{i - 1} p ON p.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst) s ON s.node = n.node)"""
    sql += f"""
    SELECT node AS word, CAST(pr AS DOUBLE) AS pr_d
    FROM r{iters} ORDER BY pr DESC, node LIMIT 20"""
    return sql


@register("textrank_keywords", _textrank_oracle(6))
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004, public
    method independently implemented): PageRank over the corpus-wide
    word-adjacency graph — words of length >= 4 co-occurring as
    neighbors become undirected edges, and the top-20 by centrality are
    the corpus keywords. Runs the SAME integer fixed-point pagerank
    operator the near-dup hub query verified (graph.pagerank — BIGINT
    ranks, div updates, order/partitioning-free), on string vertices;
    the oracle swaps the edge CTE under the identical unrolled loop.
    The graph-algebra reuse is the point: one verified iterative kernel
    serves documents, products, and now vocabulary."""
    from ..operators.text import tokens_col

    docs = _t(spark, sf_dir, "documents")
    t = tokens_col(F.col("text"))
    base = docs.select(t.alias("t")).filter(F.size("t") >= 2)
    pairs = base.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1,"
                " element_at(t, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    und = pairs.filter(
        (F.length("w1") >= 4)
        & (F.length("w2") >= 4)
        & (F.col("w1") != F.col("w2"))
    )
    pr = graph.pagerank(und, a_col="w1", b_col="w2", iters=6)
    return (
        pr.select(
            F.col("node").alias("word"),
            F.col("pr").cast("double").alias("pr_d"),
        )
        .orderBy(F.col("pr_d").desc(), F.col("word").asc())
        .limit(20)
    )


_TRIPLET_ORACLE = """
    WITH emb AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (
      SELECT vec_id AS anchor_id, label AS alabel, e AS qe
      FROM emb WHERE vec_id < 32),
    scored AS (
      SELECT anchor_id, c.vec_id AS cand_id,
             CASE WHEN c.label = alabel THEN 1 ELSE 0 END AS rel,
             round(list_dot_product(qe, c.e)
                   / (sqrt(list_dot_product(qe, qe))
                      * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
      FROM q CROSS JOIN emb c WHERE c.vec_id != anchor_id),
    pos AS (
      SELECT anchor_id, cand_id AS positive_id, cosine AS pos_cosine
      FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                ORDER BY cosine DESC, cand_id ASC) AS rn
            FROM scored WHERE rel = 1) x WHERE rn = 1),
    neg AS (
      SELECT anchor_id, cand_id AS negative_id, cosine AS neg_cosine
      FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                ORDER BY cosine DESC, cand_id ASC) AS rn
            FROM scored WHERE rel = 0 AND cosine < 0.4) x WHERE rn = 1)
    SELECT p.anchor_id, p.positive_id, p.pos_cosine,
           n.negative_id, n.neg_cosine,
           p.pos_cosine - n.neg_cosine AS margin
    FROM pos p JOIN neg n USING (anchor_id)
"""


@register("contrastive_triplets", _TRIPLET_ORACLE)
def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-TRIPLET construction for contrastive/metric learning —
    the step after hard_negative_mining in a real pipeline: per anchor
    (vec_id < 32) the hardest positive is the most-similar SAME-label
    vector and the hardest admissible negative is the most-similar
    different-label vector strictly below the near-dup threshold (the
    false-negative exclusion hard_negative_mining verified). Emits the
    (anchor, positive, negative) triple with both cosines and the
    margin — the quantity a triplet loss drives positive. One probe-
    broadcast scan scores the corpus once; both picks are keyed top-1s
    over the same scored frame.
    Margin is a difference of two 6dp-rounded doubles: exact-identical
    cross-engine."""
    from ..operators.similarity import (
        _as_double,
        _cosine_prenormed,
        _keyed_topk,
        _probe_scan,
        _with_norm,
    )

    emb = _as_double(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding"
    )
    q = _with_norm(
        emb.filter(F.col("vec_id") < 32).select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("alabel"),
            F.col("embedding").alias("qe"),
        ),
        "qe",
        "qn",
    )
    c = _with_norm(
        emb.select(
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("clabel"),
            F.col("embedding").alias("ce"),
        ),
        "ce",
        "cn",
    )
    scored = (
        _probe_scan(c, q)
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "cand_id",
            F.when(F.col("clabel") == F.col("alabel"), 1)
            .otherwise(0)
            .alias("rel"),
            _cosine_prenormed(
                F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
    )
    pos = _keyed_topk(
        scored.filter(F.col("rel") == 1), "anchor_id", "cosine", "cand_id", 1
    ).select(
        "anchor_id",
        F.col("cand_id").alias("positive_id"),
        F.col("cosine").alias("pos_cosine"),
    )
    neg = _keyed_topk(
        scored.filter((F.col("rel") == 0) & (F.col("cosine") < 0.4)),
        "anchor_id",
        "cosine",
        "cand_id",
        1,
    ).select(
        "anchor_id",
        F.col("cand_id").alias("negative_id"),
        F.col("cosine").alias("neg_cosine"),
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "pos_cosine",
        "negative_id",
        "neg_cosine",
        (F.col("pos_cosine") - F.col("neg_cosine")).alias("margin"),
    )


_GOPHER_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS t,
             lower(trim(text)) AS lt
      FROM documents),
    stats AS (
      SELECT doc_id,
             len(t) AS n_words,
             CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT)
               AS sum_len,
             len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
               AS n_alpha_words,
             length(lt) - length(replace(lt, '#', ''))
               + 3 * ((length(lt) - length(replace(lt, '...', '')))
                      // 3) AS n_symbols,
             len(list_distinct(list_filter(t, x -> x IN
               ('the','be','to','of','and','that','have','with'))))
               AS n_req_stop
      FROM toks),
    flags AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words >= 50 AND n_words <= 100000
                  THEN 1 ELSE 0 END AS r_word_count,
             CASE WHEN sum_len >= 3 * n_words
                   AND sum_len <= 10 * n_words
                  THEN 1 ELSE 0 END AS r_mean_word_len,
             CASE WHEN 10 * n_symbols < n_words
                  THEN 1 ELSE 0 END AS r_symbol_ratio,
             CASE WHEN 5 * n_alpha_words >= 4 * n_words
                  THEN 1 ELSE 0 END AS r_alpha_words,
             CASE WHEN n_req_stop >= 2 THEN 1 ELSE 0 END AS r_stopwords
      FROM stats)
    SELECT doc_id,
           CAST(n_words AS DOUBLE) AS n_words_d,
           CAST(r_word_count AS DOUBLE) AS r_word_count_d,
           CAST(r_mean_word_len AS DOUBLE) AS r_mean_word_len_d,
           CAST(r_symbol_ratio AS DOUBLE) AS r_symbol_ratio_d,
           CAST(r_alpha_words AS DOUBLE) AS r_alpha_words_d,
           CAST(r_stopwords AS DOUBLE) AS r_stopwords_d,
           CAST(r_word_count * r_mean_word_len * r_symbol_ratio
                * r_alpha_words * r_stopwords AS DOUBLE) AS passes_d
    FROM flags
"""


@register("gopher_quality_filter", _GOPHER_ORACLE)
def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality RULES (Rae et al. 2021 §A1.1, public
    method independently implemented) as an exact per-document screen
    with per-rule flags — the doc_quality_score composite scores, this
    FILTERS, and curation pipelines want the reasons, not just the
    verdict: word count in [50, 100000]; mean word length in [3, 10];
    symbol-to-word ratio ('#' and '...') below 0.1; ≥ 80% of words
    contain an alphabetic character; ≥ 2 distinct required English stop
    words. Every threshold evaluates as INTEGER cross-multiplication
    (sum_len >= 3·n_words, 10·n_symbols < n_words, 5·n_alpha >= 4·n) —
    no float touches the plan, so the flags are engine-exact by
    construction. One narrow pass, no shuffle at all (the oracle's only
    GROUP BY-free screen)."""
    return _gopher_flags(_t(spark, sf_dir, "documents"))


def _gopher_flags(docs: DataFrame) -> DataFrame:
    """The stateless Gopher rule expressions — shared by the batch
    screen and the streaming ingest twin (batch ≡ stream for stateless
    stages, so one oracle serves both)."""
    from ..operators.text import tokens_col

    t = tokens_col(F.col("text"))
    lt = F.lower(F.trim(F.col("text")))
    stats = docs.select(
        "doc_id",
        F.size(t).alias("n_words"),
        F.aggregate(
            F.transform(t, lambda x: F.length(x)),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        ).alias("sum_len"),
        F.size(F.filter(t, lambda x: x.rlike("[a-z]"))).alias(
            "n_alpha_words"
        ),
        (
            (F.length(lt) - F.length(F.regexp_replace(lt, "#", "")))
            + 3
            * F.floor(
                (
                    F.length(lt)
                    - F.length(F.regexp_replace(lt, r"\.\.\.", ""))
                )
                / 3
            ).cast("long")
        ).alias("n_symbols"),
        F.size(
            F.array_distinct(
                F.filter(
                    t,
                    lambda x: x.isin(
                        "the", "be", "to", "of", "and", "that", "have",
                        "with",
                    ),
                )
            )
        ).alias("n_req_stop"),
    )
    r = {
        "r_word_count": (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000),
        "r_mean_word_len": (F.col("sum_len") >= 3 * F.col("n_words"))
        & (F.col("sum_len") <= 10 * F.col("n_words")),
        "r_symbol_ratio": 10 * F.col("n_symbols") < F.col("n_words"),
        "r_alpha_words": 5 * F.col("n_alpha_words") >= 4 * F.col("n_words"),
        "r_stopwords": F.col("n_req_stop") >= 2,
    }
    flags = stats.select(
        "doc_id",
        "n_words",
        *[
            F.when(cond, 1).otherwise(0).alias(name)
            for name, cond in r.items()
        ],
    )
    passes = (
        F.col("r_word_count")
        * F.col("r_mean_word_len")
        * F.col("r_symbol_ratio")
        * F.col("r_alpha_words")
        * F.col("r_stopwords")
    )
    return flags.select(
        "doc_id",
        F.col("n_words").cast("double").alias("n_words_d"),
        *[F.col(n).cast("double").alias(f"{n}_d") for n in r],
        passes.cast("double").alias("passes_d"),
    )


_SIMPSON_ORACLE = """
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS lt FROM documents
      WHERE length(trim(text)) >= 2),
    grams AS (
      SELECT doc_id, g
      FROM base,
           LATERAL (SELECT unnest(list_transform(
             range(1, length(lt)), i -> substring(lt, CAST(i AS INT), 2)
           )) AS g) u),
    cells AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
    agg AS (
      SELECT doc_id,
             sum(c) AS n,
             sum(c * (c - 1)) AS coll
      FROM cells GROUP BY 1)
    SELECT doc_id,
           CAST(n AS DOUBLE) AS n_bigrams_d,
           CASE WHEN n < 2 THEN NULL
                ELSE CAST(coll * 1000000 // (n * (n - 1)) AS DOUBLE) END
             AS simpson_ppm_d
    FROM agg
"""


@register("char_simpson_concentration", _SIMPSON_ORACLE)
def q_char_simpson_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram SIMPSON concentration per document — the
    log-free gibberish/repetition signal: Σ c·(c−1) / (N·(N−1)), the
    probability two random bigram draws collide. Natural text sits in a
    band; keyboard mash scores low (flat distribution), 'aaaa…' spam
    scores near 1. Entropy would need log() — the cross-engine
    discipline forbids it — and Simpson's index is the standard rational
    substitute carrying the same ordering signal. Integer ppm end to
    end; docs shorter than 2 chars drop (stated on both sides). Shape:
    bigrams build inside the row, ONE (doc, gram) groupBy with map-side
    combine, per-doc fold — the repetition_stats discipline at char
    granularity."""
    docs = _t(spark, sf_dir, "documents")
    lt = F.lower(F.trim(F.col("text")))
    base = docs.select("doc_id", lt.alias("lt")).filter(
        F.length("lt") >= 2
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(lt) - 1),"
                " i -> substring(lt, i, 2))"
            )
        ).alias("g"),
    )
    cells = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return (
        cells.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * (F.col("c") - 1)).alias("coll"),
        )
        .select(
            "doc_id",
            F.col("n").cast("double").alias("n_bigrams_d"),
            F.expr(
                "CASE WHEN n < 2 THEN NULL"
                " ELSE CAST(coll * 1000000L div (n * (n - 1)) AS DOUBLE)"
                " END"
            ).alias("simpson_ppm_d"),
        )
    )


_BIN_RERANK_ORACLE = (
    _BINCODE_CTE
    + """
    , q AS (SELECT vec_id AS query_id, w_lo AS q_lo, w_hi AS q_hi
            FROM codes WHERE vec_id < 20),
    hscored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q_lo, c.w_lo))
                  + bit_count(xor(q_hi, c.w_hi)) AS BIGINT) AS hamming
      FROM q CROSS JOIN codes c WHERE c.vec_id != query_id),
    shortlist AS (
      SELECT query_id, neighbor_id, hamming FROM (
        SELECT query_id, neighbor_id, hamming,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY hamming ASC, neighbor_id ASC) AS rn
        FROM hscored) s WHERE rn <= 20),
    vecs AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    rescored AS (
      SELECT s.query_id, s.neighbor_id, s.hamming,
             round(list_dot_product(qv.e, nv.e)
                   / (sqrt(list_dot_product(qv.e, qv.e))
                      * sqrt(list_dot_product(nv.e, nv.e))), 6) AS cosine
      FROM shortlist s
      JOIN vecs qv ON qv.vec_id = s.query_id
      JOIN vecs nv ON nv.vec_id = s.neighbor_id),
    final AS (
      SELECT query_id, neighbor_id, hamming, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
      FROM rescored)
    SELECT query_id, neighbor_id, hamming, cosine, rnk
    FROM final WHERE rnk <= 5
    """
)


@register("binary_rerank_pipeline", _BIN_RERANK_ORACLE)
def q_binary_rerank_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION two-stage serving pattern, end to end: binary
    Hamming shortlist (top-20 — integer XOR/popcount over the 16-byte
    code table) feeds an exact float cosine re-rank to top-5 over ONLY
    the shortlisted candidates. At 100 TB the float corpus is touched
    for 20 vectors per query instead of all of them — the whole point of
    the quantized first stage; here the embeddings join back by id (the
    candidate-generation contract every ANN family in similarity.py
    follows). Exactly oracle-able end to end: both stages are integer /
    rounded-6dp deterministic with id tie-breaks."""
    from ..operators import similarity
    from ..operators.similarity import (
        _as_double,
        _cosine_prenormed,
        _keyed_topk,
        _with_norm,
    )

    emb = _t(spark, sf_dir, "embeddings")
    short = similarity.binary_hamming_topk(emb, n_queries=20, k=20).select(
        "query_id", "neighbor_id", "hamming"
    )
    vecs = _with_norm(
        _as_double(emb).select("vec_id", "embedding"), "embedding", "nrm"
    )
    rescored = (
        short.join(
            vecs.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qe"),
                F.col("nrm").alias("qn"),
            ),
            "query_id",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("ne"),
                F.col("nrm").alias("nn"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            _cosine_prenormed(
                F.col("qe"), F.col("ne"), F.col("qn"), F.col("nn")
            ).alias("cosine"),
        )
    )
    return _keyed_topk(rescored, "query_id", "cosine", "neighbor_id", 5).select(
        "query_id", "neighbor_id", "hamming", "cosine", "rnk"
    )


_SEMANTIC_DECON_ORACLE = """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    bench AS (SELECT vec_id AS bench_id, e AS be FROM emb WHERE vec_id < 40),
    corpus AS (SELECT vec_id, e FROM emb WHERE vec_id >= 40),
    scored AS (
      SELECT c.vec_id, b.bench_id,
             round(list_dot_product(c.e, b.be)
                   / (sqrt(list_dot_product(c.e, c.e))
                      * sqrt(list_dot_product(b.be, b.be))), 6) AS cosine
      FROM corpus c CROSS JOIN bench b),
    best AS (
      SELECT vec_id, bench_id, cosine,
             row_number() OVER (PARTITION BY vec_id
                 ORDER BY cosine DESC, bench_id ASC) AS rn
      FROM scored)
    SELECT vec_id, bench_id AS closest_bench_id, cosine
    FROM best WHERE rn = 1 AND cosine >= 0.4
"""


@register("semantic_decontaminate", _SEMANTIC_DECON_ORACLE)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-space twin of
    the n-gram `decontaminate` operator (paraphrased eval leakage that
    shares no 4-gram still collides in embedding space): corpus vectors
    whose cosine to ANY benchmark vector (the bounded vec_id < 40 set)
    reaches the verified 0.4 near-dup threshold, with the closest
    benchmark item attached for audit. Scale shape is the flipped probe
    idiom end to end: the benchmark broadcasts (eval sets are thousands
    of rows; the corpus is the 100 TB side), the corpus streams once,
    and the per-vector argmax is a keyed window over rows the threshold
    already thinned. Non-degeneracy probed in DuckDB before
    registration: 10 of 460 corpus vectors flag at sf0.01."""
    from ..operators.similarity import (
        _as_double,
        _cosine_prenormed,
        _keyed_topk,
        _probe_scan,
        _with_norm,
    )

    emb = _as_double(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    bench = _with_norm(
        emb.filter(F.col("vec_id") < 40).select(
            F.col("vec_id").alias("bench_id"),
            F.col("embedding").alias("be"),
        ),
        "be",
        "bn",
    )
    corpus = _with_norm(
        emb.filter(F.col("vec_id") >= 40), "embedding", "cn"
    )
    scored = _probe_scan(corpus, bench).select(
        "vec_id",
        "bench_id",
        _cosine_prenormed(
            F.col("embedding"), F.col("be"), F.col("cn"), F.col("bn")
        ).alias("cosine"),
    ).filter(F.col("cosine") >= 0.4)
    return (
        _keyed_topk(scored, "vec_id", "cosine", "bench_id", 1)
        .select(
            "vec_id",
            F.col("bench_id").alias("closest_bench_id"),
            "cosine",
        )
    )


def _tz(a: str, b: str) -> str:
    """Truncate-toward-zero integer division (the OLS ABS idiom)."""
    return (
        f"CASE WHEN {a} >= 0 THEN ({a}) // ({b})"
        f" ELSE -((-({a})) // ({b})) END"
    )


_PROFILE_COLS = (
    "event_id",
    "ts_sec",
    "user_id",
    "event_type",
    "value_cents",
    "props",
)

_PROFILE_NORM_SQL = """
      SELECT CAST(event_id AS VARCHAR) AS event_id,
             CAST(epoch_us(ts) AS VARCHAR) AS ts_sec,
             CAST(user_id AS VARCHAR) AS user_id,
             event_type,
             CAST(CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)
               AS VARCHAR) AS value_cents,
             props
      FROM events
"""


def _profile_oracle() -> str:
    per_col = []
    for c in _PROFILE_COLS:
        per_col.append(f"""
    SELECT '{c}' AS col_name,
           (SELECT count(*) FROM norm) AS n_rows,
           count(*) - count({c}) AS n_null,
           count(DISTINCT {c}) AS n_distinct,
           min({c}) AS min_s,
           max({c}) AS max_s,
           (SELECT {c} FROM norm WHERE {c} IS NOT NULL
            GROUP BY 1 ORDER BY count(*) DESC, {c} ASC LIMIT 1) AS mode_s,
           (SELECT count(*) FROM norm n2
            WHERE n2.{c} = (SELECT {c} FROM norm WHERE {c} IS NOT NULL
                            GROUP BY 1 ORDER BY count(*) DESC, {c} ASC
                            LIMIT 1)) AS mode_n
    FROM norm""")
    body = "\n    UNION ALL".join(per_col)
    return f"""
    WITH norm AS MATERIALIZED ({_PROFILE_NORM_SQL})
    SELECT col_name,
           CAST(n_rows AS DOUBLE) AS n_rows_d,
           CAST(n_null AS DOUBLE) AS n_null_d,
           CAST(n_distinct AS DOUBLE) AS n_distinct_d,
           min_s, max_s, mode_s,
           CAST(mode_n AS DOUBLE) AS mode_n_d
    FROM ({body}) p
    """


@register("column_profile_events", _profile_oracle())
def q_column_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic per-column data-quality PROFILE — the first thing a
    pipeline runs against an unfamiliar 100 TB table: per column the
    null count, distinct count, lexicographic min/max, and the modal
    value with its frequency (ties to the smallest value — exact).
    Columns profile over a TYPED-CANONICAL string projection (integers
    and plain strings only: epoch seconds for the timestamp, floor-cents
    for the double) so every statistic is engine-portable with no float
    or timestamp formatting divergence.

    Scale shape: ONE stack pass feeds one (col, value) groupBy whose
    partial state is a count per distinct cell — the same
    histogram-of-counts discipline as key_skew_profile — and every
    per-column statistic (nulls, distinct, min/max, mode) derives from
    that one aggregate; no per-column rescans, no driver loops."""
    long = _profile_stack(_t(spark, sf_dir, "events"))
    cells = long.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return _profile_from_cells(cells)


def _profile_stack(ev: DataFrame) -> DataFrame:
    """events → stacked (col_name, val) rows over the typed-canonical
    string projection (works on batch and streaming frames alike)."""
    norm = ev.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.expr("CAST(unix_micros(ts) AS STRING)").alias("ts_sec"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("event_type"),
        F.expr(
            "CAST(CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)"
            " AS STRING)"
        ).alias("value_cents"),
        F.col("props"),
    )
    k = len(_PROFILE_COLS)
    stack = ", ".join(f"'{c}', {c}" for c in _PROFILE_COLS)
    return norm.selectExpr(f"stack({k}, {stack}) AS (col_name, val)")


def _profile_from_cells(cells: DataFrame) -> DataFrame:
    """(col_name, val, cnt) cell histogram → the per-column profile.
    Every statistic derives from the bounded cell frame, so the batch
    profiler and the streaming maintenance twin share this tail."""
    w = Window.partitionBy("col_name").orderBy(
        F.col("cnt").desc(), F.col("val").asc()
    )
    mode = (
        cells.where(F.col("val").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("col_name", F.col("val").alias("mode_s"),
                F.col("cnt").alias("mode_n"))
    )
    stats = cells.groupBy("col_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(F.col("val").isNull(), F.col("cnt")).otherwise(0)).alias(
            "n_null"
        ),
        F.count(F.when(F.col("val").isNotNull(), F.lit(1))).alias(
            "n_distinct"
        ),
        F.min("val").alias("min_s"),
        F.max("val").alias("max_s"),
    )
    return stats.join(mode, "col_name", "left").select(
        "col_name",
        F.col("n_rows").cast("double").alias("n_rows_d"),
        F.col("n_null").cast("double").alias("n_null_d"),
        F.col("n_distinct").cast("double").alias("n_distinct_d"),
        "min_s",
        "max_s",
        "mode_s",
        F.col("mode_n").cast("double").alias("mode_n_d"),
    )


@register("streaming_column_profile", _profile_oracle())
def q_streaming_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The column profile maintained CONTINUOUSLY at ingest: the events
    replay stacks each micro-batch into (col_name, val) rows, ONE
    complete-mode groupBy keeps the additive cell histogram, and the
    drained cells run the identical profile tail, so the batch oracle
    applies verbatim. State honesty: cells are bounded by Σ distinct
    values per column — tight for categorical/bucketed columns, O(rows)
    for unique keys like event_id, so a 100 TB deployment profiles
    unique-key columns through the sketch maintenance twins instead
    (streaming_hll_registers for distinct counts, streaming_cms_cells
    for heavy hitters) and keeps this exact twin for the bounded
    columns; this registration keeps every column so the batch oracle
    pins the whole surface."""
    from .q04_streamksql import _STREAM_SEQ, _replay_events

    stream = _replay_events(spark, sf_dir)
    cells = _profile_stack(stream).groupBy("col_name", "val").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    drained = stream_sinks.run_to_memory(
        cells,
        f"reg_stream_colprof_{next(_STREAM_SEQ)}",
        output_mode="complete",
    ).transform(sizing.materialize, "streamed column profile cells")
    return _profile_from_cells(drained)


_MRR_ORACLE = """
    WITH emb AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (
      SELECT vec_id AS anchor_id, label AS alabel, e AS qe
      FROM emb WHERE vec_id < 32),
    scored AS (
      SELECT anchor_id, c.vec_id AS neighbor_id,
             CASE WHEN c.label = alabel THEN 1 ELSE 0 END AS rel,
             round(list_dot_product(qe, c.e)
                   / (sqrt(list_dot_product(qe, qe))
                      * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
      FROM q CROSS JOIN emb c WHERE c.vec_id != anchor_id),
    top_rel AS (
      SELECT anchor_id, cosine AS cstar, neighbor_id AS nstar
      FROM (SELECT anchor_id, cosine, neighbor_id,
                   row_number() OVER (PARTITION BY anchor_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rn
            FROM scored WHERE rel = 1) x
      WHERE rn = 1),
    ranked AS (
      SELECT s.anchor_id,
             1 + sum(CASE WHEN s.cosine > t.cstar
                          OR (s.cosine = t.cstar
                              AND s.neighbor_id < t.nstar)
                     THEN 1 ELSE 0 END) AS first_rel_rank
      FROM scored s JOIN top_rel t USING (anchor_id)
      GROUP BY 1)
    SELECT anchor_id,
           CAST(first_rel_rank AS DOUBLE) AS first_rel_rank_d,
           CAST(1000000 // first_rel_rank AS DOUBLE) AS rr_ppm_d
    FROM ranked
"""


@register("mrr_retrieval_eval", _MRR_ORACLE)
def q_mrr_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact reciprocal rank of the first relevant item per anchor — the
    MRR companion to ndcg_retrieval_eval, computed WITHOUT ranking the
    full corpus per anchor: the top relevant item is a keyed top-1, and
    its rank equals 1 + the count of items strictly ahead of it in the
    (cosine 6dp desc, id asc) order — two aggregates over the scored
    rows instead of a corpus-wide row_number. rr in integer ppm
    (1000000 div rank). Probe broadcasts, corpus streams."""
    from ..operators.similarity import (
        _as_double,
        _cosine_prenormed,
        _keyed_topk,
        _probe_scan,
        _with_norm,
    )

    emb = _as_double(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding"
    )
    q = _with_norm(
        emb.filter(F.col("vec_id") < 32).select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("alabel"),
            F.col("embedding").alias("qe"),
        ),
        "qe",
        "qn",
    )
    c = _with_norm(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nlabel"),
            F.col("embedding").alias("ce"),
        ),
        "ce",
        "cn",
    )
    scored = (
        _probe_scan(c, q)
        .filter(F.col("anchor_id") != F.col("neighbor_id"))
        .select(
            "anchor_id",
            "neighbor_id",
            F.when(F.col("nlabel") == F.col("alabel"), 1)
            .otherwise(0)
            .alias("rel"),
            _cosine_prenormed(
                F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
    )
    top_rel = _keyed_topk(
        scored.filter(F.col("rel") == 1),
        "anchor_id",
        "cosine",
        "neighbor_id",
        1,
    ).select(
        "anchor_id",
        F.col("cosine").alias("cstar"),
        F.col("neighbor_id").alias("nstar"),
    )
    return (
        scored.join(F.broadcast(top_rel), "anchor_id")
        .groupBy("anchor_id")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        (F.col("cosine") > F.col("cstar"))
                        | (
                            (F.col("cosine") == F.col("cstar"))
                            & (F.col("neighbor_id") < F.col("nstar"))
                        ),
                        1,
                    ).otherwise(0)
                )
            ).alias("first_rel_rank")
        )
        .select(
            "anchor_id",
            F.col("first_rel_rank").cast("double").alias("first_rel_rank_d"),
            F.expr("CAST(1000000 div first_rel_rank AS DOUBLE)").alias(
                "rr_ppm_d"
            ),
        )
    )


_MAP_ORACLE = """
    WITH emb AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (
      SELECT vec_id AS anchor_id, label AS alabel, e AS qe
      FROM emb WHERE vec_id < 32),
    scored AS (
      SELECT anchor_id, c.vec_id AS neighbor_id,
             CASE WHEN c.label = alabel THEN 1 ELSE 0 END AS rel,
             round(list_dot_product(qe, c.e)
                   / (sqrt(list_dot_product(qe, qe))
                      * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
      FROM q CROSS JOIN emb c WHERE c.vec_id != anchor_id),
    ranked AS (
      SELECT anchor_id, rel,
             row_number() OVER w AS rnk,
             sum(rel) OVER w AS cum_rel
      FROM scored
      WINDOW w AS (PARTITION BY anchor_id
                   ORDER BY cosine DESC, neighbor_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    per AS (
      SELECT anchor_id,
             sum(CASE WHEN rel = 1
                      THEN (cum_rel * 1000000) // rnk ELSE 0 END) AS s,
             sum(rel) AS n_rel
      FROM ranked GROUP BY 1)
    SELECT anchor_id,
           CAST(n_rel AS DOUBLE) AS n_rel_d,
           CAST(CASE WHEN n_rel = 0 THEN NULL
                     ELSE s // n_rel END AS DOUBLE) AS ap_ppm_d
    FROM per
"""


@register("map_retrieval_eval", _MAP_ORACLE)
def q_map_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Average Precision per anchor — the third leg of the
    retrieval-eval family (NDCG grades graded-relevance order, MRR the
    first hit, AP the WHOLE precision-recall tradeoff): over the full
    (cosine 6dp desc, id) ranking, AP = Σ_{relevant k} precision@k /
    n_rel, every term an integer division in ppm so the defined
    truncation IS the metric and any engine agrees. One window per
    anchor computes rank and cumulative-relevant together (the probe
    set bounds the reducer count; each reducer streams its corpus
    partition — the documented probe-eval shape). Probe broadcasts,
    corpus streams."""
    from ..operators.similarity import (
        _as_double,
        _cosine_prenormed,
        _probe_scan,
        _with_norm,
    )

    emb = _as_double(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding"
    )
    q = _with_norm(
        emb.filter(F.col("vec_id") < 32).select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("alabel"),
            F.col("embedding").alias("qe"),
        ),
        "qe",
        "qn",
    )
    c = _with_norm(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nlabel"),
            F.col("embedding").alias("ce"),
        ),
        "ce",
        "cn",
    )
    scored = (
        _probe_scan(c, q)
        .filter(F.col("anchor_id") != F.col("neighbor_id"))
        .select(
            "anchor_id",
            "neighbor_id",
            F.when(F.col("nlabel") == F.col("alabel"), 1)
            .otherwise(0)
            .alias("rel"),
            _cosine_prenormed(
                F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = scored.select(
        "anchor_id",
        "rel",
        F.row_number().over(
            Window.partitionBy("anchor_id").orderBy(
                F.col("cosine").desc(), F.col("neighbor_id").asc()
            )
        ).alias("rnk"),
        F.sum("rel").over(w).alias("cum_rel"),
    )
    per = ranked.groupBy("anchor_id").agg(
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.expr("(cum_rel * 1000000L) div rnk"),
            ).otherwise(0)
        ).alias("s"),
        F.sum("rel").alias("n_rel"),
    )
    return per.select(
        "anchor_id",
        F.col("n_rel").cast("double").alias("n_rel_d"),
        F.expr(
            "CASE WHEN n_rel = 0 THEN NULL"
            " ELSE CAST(s div n_rel AS DOUBLE) END"
        ).alias("ap_ppm_d"),
    )


_AR2_ORACLE = """
    WITH daily0 AS (
      SELECT datediff('day', TIMESTAMP '1995-01-01',
                      date_trunc('day', o_orderdate)) AS t,
             sum(CAST(floor(o_totalprice) AS BIGINT)) // 100 AS y
      FROM orders GROUP BY 1),
    u AS (SELECT greatest(CAST(1 AS BIGINT),
                          (SELECT max(y) FROM daily0) // 32768) AS u),
    daily AS (SELECT t, y // (SELECT u FROM u) AS y FROM daily0),
    lagged AS (
      SELECT c.t, c.y, p1.y AS x1, p2.y AS x2
      FROM daily c
      JOIN daily p1 ON p1.t = c.t - 1
      JOIN daily p2 ON p2.t = c.t - 2),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x1) AS HUGEINT) AS s1,
             CAST(sum(x2) AS HUGEINT) AS s2,
             CAST(sum(x1 * x1) AS HUGEINT) AS s11,
             CAST(sum(x1 * x2) AS HUGEINT) AS s12,
             CAST(sum(x2 * x2) AS HUGEINT) AS s22,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x1 * y) AS HUGEINT) AS s1y,
             CAST(sum(x2 * y) AS HUGEINT) AS s2y
      FROM lagged),
    d AS (
      SELECT n,
        n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
          + s2*(s1*s12 - s11*s2) AS det,
        sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
          + s2*(s1y*s12 - s11*s2y) AS det0,
        n*(s1y*s22 - s2y*s12) - sy*(s1*s22 - s12*s2)
          + s2*(s1*s2y - s1y*s2) AS det1,
        n*(s11*s2y - s12*s1y) - s1*(s1*s2y - s1y*s2)
          + sy*(s1*s12 - s11*s2) AS det2
      FROM m)
    SELECT CAST(n AS DOUBLE) AS n_days_d,
           CASE WHEN det <= 0 THEN NULL ELSE CAST(
             (CASE WHEN det0 >= 0 THEN (det0 * 1000) // det
                   ELSE -((-det0 * 1000) // det) END)
             * (SELECT u FROM u) AS DOUBLE) END
             AS b0_millih_d,
           CASE WHEN det <= 0 THEN NULL ELSE CAST(
             CASE WHEN det1 >= 0 THEN (det1 * 1000) // det
                  ELSE -((-det1 * 1000) // det) END AS DOUBLE) END
             AS b1_milli_d,
           CASE WHEN det <= 0 THEN NULL ELSE CAST(
             CASE WHEN det2 >= 0 THEN (det2 * 1000) // det
                  ELSE -((-det2 * 1000) // det) END AS DOUBLE) END
             AS b2_milli_d
    FROM d
"""


@register("ar2_forecast_revenue", _AR2_ORACLE)
def q_ar2_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT AR(2) autoregression on daily order revenue — the classical
    time-series forecaster fitted in-engine by the Cramer 3x3 idiom
    (ols_two_factor_revenue's algebra with lagged-revenue regressors
    instead of trend/weekend): y_t = b0 + b1·y_{t-1} + b2·y_{t-2} over
    calendar-consecutive day triples (gap days drop via the lag inner
    joins — stated on both sides). Revenue is per-order floor-dollars
    integer-summed then HECTO-dollar scaled, keeping every Gram moment
    BIGINT and every determinant term inside DECIMAL(38,0)/HUGEINT
    through sf1 (moments ~2.4e15, det terms ~1.4e34; sf10 is marginal
    and documented, not claimed). Coefficients emitted as exact milli-
    unit integers (truncate-toward-zero ABS idiom; det > 0 by positive
    definiteness). Scale: one day-level aggregate, two narrow self-joins
    on day index, one 1-row moment fold."""
    orders = _t(spark, sf_dir, "orders")
    daily0 = orders.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("o_orderdate")),
            F.lit("1995-01-01").cast("timestamp"),
        ).alias("t")
    ).agg(
        F.expr(
            "sum(CAST(floor(o_totalprice) AS BIGINT)) div 100"
        ).alias("y")
    )
    # Adaptive unit scaling (found by the r10 full 10x stress sweep:
    # det0 ~ 5.5e39 overflowed DECIMAL(38,0) at 10x of sf0.1). u floors
    # to 1 at driver scales, so sf0.001-sf0.01 outputs are unchanged;
    # y' <= 2^16 bounds every determinant term ~3*D^3*2^80 — inside
    # 38 digits for any realistic calendar span. b1/b2 are covariance
    # ratios (unit-invariant up to the defined truncation); b0 is in
    # y'-units and multiplies back by u on both sides.
    uf = daily0.agg(
        F.expr("greatest(1L, max(y) div 32768L)").alias("u")
    )
    daily = daily0.crossJoin(F.broadcast(uf)).select(
        "t", F.expr("y div u").alias("y")
    )
    base = (
        daily.alias("c")
        .join(
            daily.select((F.col("t") + 1).alias("t"), F.col("y").alias("x1")),
            "t",
        )
        .join(
            daily.select((F.col("t") + 2).alias("t"), F.col("y").alias("x2")),
            "t",
        )
    )
    m = base.agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(sum(x1) AS DECIMAL(38,0))").alias("s1"),
        F.expr("CAST(sum(x2) AS DECIMAL(38,0))").alias("s2"),
        F.expr("CAST(sum(x1 * x1) AS DECIMAL(38,0))").alias("s11"),
        F.expr("CAST(sum(x1 * x2) AS DECIMAL(38,0))").alias("s12"),
        F.expr("CAST(sum(x2 * x2) AS DECIMAL(38,0))").alias("s22"),
        F.expr("CAST(sum(y) AS DECIMAL(38,0))").alias("sy"),
        F.expr("CAST(sum(x1 * y) AS DECIMAL(38,0))").alias("s1y"),
        F.expr("CAST(sum(x2 * y) AS DECIMAL(38,0))").alias("s2y"),
    )
    d = m.select(
        "n",
        F.expr(
            "n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)"
            " + s2*(s1*s12 - s11*s2)"
        ).alias("det"),
        F.expr(
            "sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)"
            " + s2*(s1y*s12 - s11*s2y)"
        ).alias("det0"),
        F.expr(
            "n*(s1y*s22 - s2y*s12) - sy*(s1*s22 - s12*s2)"
            " + s2*(s1*s2y - s1y*s2)"
        ).alias("det1"),
        F.expr(
            "n*(s11*s2y - s12*s1y) - s1*(s1*s2y - s1y*s2)"
            " + sy*(s1*s12 - s11*s2)"
        ).alias("det2"),
    )

    def coef(num: str) -> str:
        return (
            f"CASE WHEN det <= 0 THEN NULL ELSE CAST("
            f"CASE WHEN {num} >= 0 THEN ({num} * 1000) div det "
            f"ELSE -((-{num} * 1000) div det) END AS DOUBLE) END"
        )

    b0 = (
        "CASE WHEN det <= 0 THEN NULL ELSE CAST("
        "(CASE WHEN det0 >= 0 THEN (det0 * 1000) div det "
        "ELSE -((-det0 * 1000) div det) END) * u AS DOUBLE) END"
    )
    return d.crossJoin(F.broadcast(uf)).select(
        F.col("n").cast("double").alias("n_days_d"),
        F.expr(b0).alias("b0_millih_d"),
        F.expr(coef("det1")).alias("b1_milli_d"),
        F.expr(coef("det2")).alias("b2_milli_d"),
    )


def _tree2_chain(sfx: str, src: str, where: str) -> str:
    """One SSE split search over residual table ``src`` (filtered by
    ``where``), name-suffixed — the regression twin of q11's
    classification _stump_chain_sql, keeping (n, st, n_l, s_l) so leaf
    means derive from the SAME best row."""
    return f"""
    q{sfx} AS (
      SELECT 1 AS fid, f1 AS v, r FROM {src} {where}
      UNION ALL SELECT 2, f2, r FROM {src} {where}
      UNION ALL SELECT 3, f3, r FROM {src} {where}),
    hist{sfx} AS (
      SELECT fid, v, count(*) AS cnt, sum(r) AS s FROM q{sfx} GROUP BY 1, 2),
    bounds{sfx} AS (
      SELECT fid, min(v) AS lo, max(v) AS hi,
             sum(cnt) AS n, sum(s) AS st
      FROM hist{sfx} GROUP BY 1),
    grid{sfx} AS (
      SELECT DISTINCT fid, n, st, lo + ((hi - lo) * j) // 16 AS thr
      FROM bounds{sfx}
      CROSS JOIN (SELECT unnest(generate_series(1, 15)) AS j) js),
    split{sfx} AS (
      SELECT g.fid, g.thr, g.n, g.st,
             sum(CASE WHEN h.v <= g.thr THEN h.cnt ELSE 0 END) AS n_l,
             sum(CASE WHEN h.v <= g.thr THEN h.s ELSE 0 END) AS s_l
      FROM grid{sfx} g JOIN hist{sfx} h ON h.fid = g.fid
      GROUP BY 1, 2, 3, 4),
    best{sfx} AS MATERIALIZED (
      SELECT fid, thr, n, st, n_l, s_l,
             CASE WHEN n_l = 0 OR n - n_l = 0 THEN CAST(-1 AS DOUBLE)
                  ELSE CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l
                     + CAST(st - s_l AS DOUBLE) * CAST(st - s_l AS DOUBLE)
                       / (n - n_l) END AS gain
      FROM split{sfx}
      ORDER BY gain DESC, fid, thr LIMIT 1),
    leaf{sfx} AS MATERIALIZED (
      SELECT fid, thr,
             CASE WHEN n_l = 0 THEN 0
                  ELSE {_tz("s_l", "n_l")} END AS lv,
             CASE WHEN n - n_l = 0 THEN 0
                  ELSE {_tz("st - s_l", "n - n_l")} END AS rv
      FROM best{sfx})"""


def _feat_case(leaf_cte: str) -> str:
    return (
        f"(CASE (SELECT fid FROM {leaf_cte})"
        f" WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END)"
    )


def _gbdt_tree2_oracle(rounds: int = 2) -> str:
    """Unrolled oracle for gbdt_tree2_rounds: per round a root chain plus
    two child chains (row-filtered by the fitted root predicate), leaf
    CASE guards mirroring the engine's empty-cell handling, every reused
    CTE MATERIALIZED."""
    sql = f"""
    WITH base AS MATERIALIZED (
      SELECT CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT) AS y,
             CAST(extract(hour FROM ts) AS BIGINT) AS f1,
             CAST(datediff('day', TIMESTAMP '2024-01-01',
                           date_trunc('day', ts)) % 7 AS BIGINT) AS f2,
             CAST(datediff('day', TIMESTAMP '2024-01-01',
                           date_trunc('day', ts)) AS BIGINT) AS f3
      FROM events WHERE value IS NOT NULL),
    c0 AS MATERIALIZED (
      SELECT count(*) AS n, sum(y) AS sy,
             {_tz("sum(y)", "count(*)")} AS f0
      FROM base),
    r1 AS MATERIALIZED (
      SELECT f1, f2, f3, y - (SELECT f0 FROM c0) AS r FROM base)"""
    for m in range(1, rounds + 1):
        rsfx, lsfx, rtsfx = f"_r{m}", f"_l{m}", f"_rt{m}"
        root_pred = (
            f"{_feat_case('best' + rsfx)} <= (SELECT thr FROM best{rsfx})"
        )
        sql += "," + _tree2_chain(rsfx, f"r{m}", "")
        sql += "," + _tree2_chain(lsfx, f"r{m}", f"WHERE {root_pred}")
        sql += "," + _tree2_chain(rtsfx, f"r{m}", f"WHERE NOT ({root_pred})")
        child = (
            f"CASE WHEN {root_pred}"
            f" THEN (CASE WHEN {_feat_case('leaf' + lsfx)}"
            f"   <= (SELECT thr FROM leaf{lsfx})"
            f"   THEN (SELECT lv FROM leaf{lsfx})"
            f"   ELSE (SELECT rv FROM leaf{lsfx}) END)"
            f" ELSE (CASE WHEN {_feat_case('leaf' + rtsfx)}"
            f"   <= (SELECT thr FROM leaf{rtsfx})"
            f"   THEN (SELECT lv FROM leaf{rtsfx})"
            f"   ELSE (SELECT rv FROM leaf{rtsfx}) END) END"
        )
        sql += f""",
    r{m + 1} AS MATERIALIZED (
      SELECT f1, f2, f3, r - ({child}) AS r FROM r{m})"""
    # coalesce mirrors the engine's (fid=1, thr=0, lv=0, rv=0) sentinel
    # for an empty root-split side (ml/linear.py gbdt_tree2_rounds): the
    # child chain's best/leaf CTEs are empty there, so the bare scalar
    # subqueries would return NULL and hash-diverge (ADVICE r9).
    tree_cols = ", ".join(
        f"CAST((SELECT fid FROM best_r{m}) AS DOUBLE) AS t{m}_root_fid_d, "
        f"CAST((SELECT thr FROM best_r{m}) AS DOUBLE) AS t{m}_root_thr_d, "
        f"CAST(coalesce((SELECT fid FROM leaf_l{m}), 1) AS DOUBLE)"
        f" AS t{m}_l_fid_d, "
        f"CAST(coalesce((SELECT thr FROM leaf_l{m}), 0) AS DOUBLE)"
        f" AS t{m}_l_thr_d, "
        f"CAST(coalesce((SELECT lv FROM leaf_l{m}), 0) AS DOUBLE)"
        f" AS t{m}_l_lv_cents_d, "
        f"CAST(coalesce((SELECT rv FROM leaf_l{m}), 0) AS DOUBLE)"
        f" AS t{m}_l_rv_cents_d, "
        f"CAST(coalesce((SELECT fid FROM leaf_rt{m}), 1) AS DOUBLE)"
        f" AS t{m}_r_fid_d, "
        f"CAST(coalesce((SELECT thr FROM leaf_rt{m}), 0) AS DOUBLE)"
        f" AS t{m}_r_thr_d, "
        f"CAST(coalesce((SELECT lv FROM leaf_rt{m}), 0) AS DOUBLE)"
        f" AS t{m}_r_lv_cents_d, "
        f"CAST(coalesce((SELECT rv FROM leaf_rt{m}), 0) AS DOUBLE)"
        f" AS t{m}_r_rv_cents_d"
        for m in range(1, rounds + 1)
    )
    mse_cols = ", ".join(
        f"CAST((SELECT sum(r * r) FROM r{m + 1}) // (SELECT n FROM c0)"
        f" AS DOUBLE) AS mse{m}_centi2_d"
        for m in range(rounds + 1)
    )
    sql += f"""
    SELECT CAST((SELECT n FROM c0) AS DOUBLE) AS n_d,
           CAST((SELECT f0 FROM c0) AS DOUBLE) AS f0_cents_d,
           {tree_cols},
           {mse_cols}
    """
    return sql


@register("gbdt_tree2_boost", _gbdt_tree2_oracle(rounds=2))
def q_gbdt_tree2_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient boosting with DEPTH-2 regression trees trained in-engine,
    exactly (ml/linear.py gbdt_tree2_rounds — VERDICT r8 #7's second
    axis): two rounds, each fitting an SSE-optimal root stump on the
    residuals and an SSE-optimal child stump on each side, predicting
    truncated integer residual means over four cells. Interaction-aware
    where the stump booster is additive-univariate, still exactly
    oracle-able: the unrolled SQL replays root + two child split
    searches per round with the fitted root predicate as the row filter
    (the decision_tree_depth2 chain algebra inside the boosting loop).
    MSE per stage non-increasing; empty-cell leaf guards are explicit
    CASEs on both engines (ANSI discipline)."""
    from pyspark.sql import functions as F

    from ..ml import linear

    ev = _t(spark, sf_dir, "events")
    wide = ev.where(F.col("value").isNotNull()).select(
        F.expr("CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)").alias(
            "y"
        ),
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
    return linear.gbdt_tree2_rounds(
        wide, feature_cols=["f1", "f2", "f3"], rounds=2
    )


@register("gbdt_deep_boost", _gbdt_oracle(rounds=4))
def q_gbdt_deep_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOUR-round gradient boosting trained in-engine, exactly (VERDICT
    r8 #7 — deepen the gbdt_stump_boost family): same forward-stagewise
    stump algebra over (hour, weekday, day-index) on integer-cents event
    values, twice the additive depth. The integer-residual invariant
    makes depth free: residuals stay BIGINT through every round, so the
    round-4 leaf values are exactly as oracle-able as round-1's, and the
    oracle generator just unrolls two more MATERIALIZED CTE blocks.
    Train MSE is emitted for all five stages and is provably
    non-increasing (the monotone invariant that caught r8's
    threshold-grid duplication bug — now watching twice the trajectory).
    Scale shape unchanged: one stack+histogram pass per round, O(rows),
    split params are 1-row driver scalars."""
    from pyspark.sql import functions as F

    from ..ml import linear

    ev = _t(spark, sf_dir, "events")
    wide = ev.where(F.col("value").isNotNull()).select(
        F.expr("CAST(floor(value * CAST(100 AS DOUBLE)) AS BIGINT)").alias(
            "y"
        ),
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
    return linear.gbdt_stump_rounds(
        wide, feature_cols=["f1", "f2", "f3"], rounds=4
    )


@register("streaming_gopher_filter", _GOPHER_ORACLE)
def q_streaming_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule screen applied AT INGEST: documents replayed as a
    file stream, every rule evaluated by the same stateless integer
    cross-multiplication expressions as the batch screen — quality
    filtering is the first stage of a production ingest DAG, and a
    stateless screen's append-mode emission set equals the batch answer
    EXACTLY, so the batch oracle applies verbatim (the
    streaming_corpus_ingest idiom)."""
    from .q04_streamksql import _STREAM_SEQ
    from .q06_sketchseries import _replay_documents

    stream = _replay_documents(spark, sf_dir)
    flags = _gopher_flags(stream)
    return stream_sinks.run_to_memory(
        flags,
        f"reg_stream_gopher_{next(_STREAM_SEQ)}",
        output_mode="append",
    )

"""Physical layout, mergeable sketches, training-data plumbing (split/shard/BM25).

Split from the monolithic registry (round 7, VERDICT r6 #8); the
@register calls run at package import in the original registration
order, so ``queries()`` is unchanged.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401
from .q04_streamksql import _STREAM_SEQ, _replay_events  # noqa: F401
from .q06_sketchseries import _pii_oracle  # noqa: F401

# --------------------------------------------------------------------------
# Physical-layout and mergeable-sketch surface (round 2)
# --------------------------------------------------------------------------

@register(
    "bucketed_colocated_join",
    """
    SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-⋈-dimension revenue rollup through matching bucketed layouts:
    both sides are written bucketBy(8, join_key).sortBy once (memoized),
    and the join itself is a SortMergeJoin with NO Exchange above either
    scan (asserted in tests/test_plans.py) — the shuffle is paid at write
    time, once, instead of per query. The aggregate's only exchange is on
    the (tiny) group key."""
    j = bucketing.colocated_join(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        left_key="o_custkey",
        right_key="c_custkey",
        left_cache_key=f"{sf_dir}:orders",
        right_cache_key=f"{sf_dir}:customer",
    )
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "bloom_pruned_join",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
           o.o_orderpriority, o.o_orderdate
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
)
def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: lineitem is pre-filtered through a
    bitmap of the urgent-order keys BEFORE the shuffle-hash join, modeling
    the dim-too-big-to-broadcast regime where pruning the exchange is the
    whole game at 100 TB. No false negatives, so the result hashes equal
    to the plain inner join the oracle states."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
    )
    return bloom.bloom_pruned_join(li, urgent, "l_orderkey", "o_orderkey").select(
        "l_orderkey", "l_linenumber", "l_extendedprice",
        "o_orderpriority", "o_orderdate",
    )


@register(
    "pandas_udaf_median",
    """
    SELECT event_type, median(value) AS median_value
    FROM events GROUP BY 1
    """,
)
def q_pandas_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 UDAF surface: per-group median through the Arrow grouped-agg
    Pandas UDAF path. Median is the deliberate choice: it is
    order-INDEPENDENT, so the Python aggregate hashes equal to DuckDB's
    quantile_cont(0.5) — an order-sensitive float sum would not."""
    return python_udfs.grouped_median(
        _t(spark, sf_dir, "events"), "event_type", "value"
    )


@register(
    "python_udtf_ngrams",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents)
    SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           array_to_string(t[i:i+1], ' ') AS ngram
    FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
    """,
)
def q_python_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 UDTF surface: lateral word-bigram expansion via a registered
    Python UDTF (API demo — the hot-path form is the JVM shingles
    expression, see functions/python_udfs.py docstring)."""
    return python_udfs.ngrams_udtf_frame(_t(spark, sf_dir, "documents"))


@register(
    "partitioned_sink_prune",
    """
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE)
          BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
    GROUP BY 1
    """,
)
def q_partitioned_sink_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 physical-layout sink: events written as a day-partitioned parquet
    layout (Hive-style event_day=... directories), then read back with a
    partition filter — the planner prunes 27 of 30 day directories before
    any I/O (PartitionFilters on the scan, asserted in tests/test_plans.py).
    The write is memoized per session; the oracle filters the raw table,
    so pruned-read ≡ full-scan-filter is itself the checked property."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "event_day", F.date_trunc("day", F.col("ts")).cast("date")
    )
    path = bucketing.write_partitioned(
        ev, "event_day", cache_key=f"events_day_{sf_dir}"
    )
    back = spark.read.parquet(path).filter(
        (F.col("event_day") >= F.lit("2024-01-10").cast("date"))
        & (F.col("event_day") <= F.lit("2024-01-12").cast("date"))
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "hll_registers_exact",
    """
    WITH h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
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
      FROM r)
    SELECT event_type, bucket, CAST(max(rho) AS INT) AS register
    FROM v GROUP BY 1, 2
    """,
)
def q_hll_registers_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-first-principles HLL register table per event_type
    (operators/topk.py): bucket = first md5 byte, register = max
    leading-zero rank of the remaining 120 bits — nibble arithmetic over
    the hex string on BOTH engines, so the sketch state itself (not just
    row counts) hash-checks exactly. The float estimator stays outside
    the oracle (power-sum rounding is order-dependent); its error bound
    and the max-merge identity are pinned in tests/test_relational.py."""
    return topk.hll_registers(
        _t(spark, sf_dir, "events"), "user_id", group_cols=["event_type"]
    )


_QSKETCH_WIDTH = 5.0
_QSKETCH_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


@register(
    "quantile_sketch_events",
    f"""
    WITH cells AS (
      SELECT event_type, CAST(floor(value / {_QSKETCH_WIDTH}) AS BIGINT)
               AS bucket,
             count(*) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    c AS (
      SELECT event_type, bucket, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS n_total
      FROM cells),
    qs AS (SELECT unnest([{", ".join(str(q) for q in _QSKETCH_QS)}]) AS q),
    r AS (
      SELECT c.*, q,
             CAST(floor(q * (n_total - 1)) + 1 AS BIGINT) AS rnk
      FROM c CROSS JOIN qs)
    SELECT event_type, q,
           round(bucket * {_QSKETCH_WIDTH}
                 + {_QSKETCH_WIDTH} * CAST(rnk - (cum - n) AS DOUBLE)
                   / CAST(n AS DOUBLE), 6) AS est,
           CAST(n_total AS BIGINT) AS n_total
    FROM r WHERE cum - n < rnk AND rnk <= cum
    """,
)
def q_quantile_sketch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/topk.py) — the quantile axis
    of the sketch family (CMS counts, HLL cardinality, heavy hitters):
    fixed-width histogram cells per event_type (additive, bounded by
    value_range/width, persistable), then a cumulative-walk +
    uniform-interpolation estimator whose arithmetic the oracle restates
    verbatim — unlike t-digest/KLL the whole thing is deterministic, so
    five quantile estimates per event_type hash-check exactly. Error <=
    bucket_width, pinned vs exact percentiles in tests."""
    cells = topk.quantile_sketch_cells(
        _t(spark, sf_dir, "events"),
        "value",
        bucket_width=_QSKETCH_WIDTH,
        group_cols=("event_type",),
    )
    return topk.quantile_estimates(
        cells,
        bucket_width=_QSKETCH_WIDTH,
        qs=_QSKETCH_QS,
        group_cols=("event_type",),
    )


@register(
    "streaming_quantile_sketch",
    # value IS NOT NULL: family-uniform with quantile_sketch_cells
    # (r13 — NULL values carry no quantile information; see the batch
    # operator's ordering-divergence note).
    f"""
    SELECT CAST(floor(value / {_QSKETCH_WIDTH}) AS BIGINT) AS bucket,
           count(*) AS n
    FROM events WHERE value IS NOT NULL GROUP BY 1
    """,
)
def q_streaming_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained quantile sketch: each event contributes
    its histogram bucket and ONE complete-mode groupBy keeps the
    additive cell table — counts are order-insensitive sums, so the
    drained streaming cells equal the batch sketch EXACTLY (same
    bucket arithmetic, stated by the oracle). The streaming quantile
    companion to streaming_cms_cells / streaming_hll_registers; state
    is value_range/width cells regardless of stream length, and the
    estimator (quantile_estimates) reads the drained table."""
    stream = _replay_events(spark, sf_dir)
    cells = (
        stream.filter(F.col("value").isNotNull())
        .select(
            F.floor(F.col("value") / F.lit(_QSKETCH_WIDTH))
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return stream_sinks.run_to_memory(
        cells, f"qsketch_stream_{next(_STREAM_SEQ)}", output_mode="complete"
    )


# alpha_256 * m^2 centi-literal — same value as q17_round11._HLL_ALPHA_M2_C
# (restated: importing q17 here would reorder registration).
_HLL_ALPHA_M2_C = 4707271


def _hll_partition_merge_oracle() -> str:
    """DuckDB twin of the two-level partial-sketch merge, built on the
    register-exact HLL idiom proven by hll_user_days_estimate /
    hll_merge_registers_exact (registry/q17_round11.py): md5 buckets,
    rho from leading hex zeros, registers capped at 40, the harmonic
    denominator rescaled into BIGINT shifts, alpha*m^2 as the shared
    centi-literal. The per-day partial level takes max(rho) per
    (type, day, bucket); the upward merge takes max over days —
    max-of-capped-maxes == capped-max-of-all, which the oracle states
    by computing BOTH paths from the same rho stream.

    NOTE: the alpha*m^2 centi-literal is restated locally (same value as
    q17_round11._HLL_ALPHA_M2_C) — importing q17 from here at module
    load would reorder the registry tail (q17 registers on import)."""
    return f"""
    WITH h AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             md5(CAST(user_id AS VARCHAR) || '|'
                 || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR))
               AS hx
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    b AS (
      SELECT event_type, day,
             CAST((strpos('0123456789abcdef', hx[1:1]) - 1) * 16
                  + (strpos('0123456789abcdef', hx[2:2]) - 1) AS INT)
               AS bucket,
             hx[3:32] AS rest
      FROM h),
    r AS (
      SELECT event_type, day, bucket, ltrim(rest, '0') AS stripped,
             len(rest) - len(ltrim(rest, '0')) AS nz
      FROM b),
    v AS MATERIALIZED (
      SELECT event_type, day, bucket,
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
    regs_day AS (
      SELECT event_type, day, bucket,
             least(CAST(max(rho) AS BIGINT), 40) AS reg
      FROM v GROUP BY 1, 2, 3),
    merged AS (
      SELECT event_type, bucket, max(reg) AS reg
      FROM regs_day GROUP BY 1, 2),
    direct AS (
      SELECT event_type, bucket,
             least(CAST(max(rho) AS BIGINT), 40) AS reg
      FROM v GROUP BY 1, 2),
    sm AS (
      SELECT event_type,
             sum(1::BIGINT << (40 - reg))
               + (256 - count(*)) * (1::BIGINT << 40) AS sdenom
      FROM merged GROUP BY 1),
    sd AS (
      SELECT event_type,
             sum(1::BIGINT << (40 - reg))
               + (256 - count(*)) * (1::BIGINT << 40) AS sdenom
      FROM direct GROUP BY 1),
    ex AS (
      SELECT event_type,
             count(DISTINCT user_id || '|'
                   || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR))
               AS exact_ud
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1)
    SELECT sm.event_type,
           CAST(({_HLL_ALPHA_M2_C}::BIGINT * (1::BIGINT << 40)) // sm.sdenom
                AS DOUBLE) AS merged_centi_user_days_d,
           CAST(({_HLL_ALPHA_M2_C}::BIGINT * (1::BIGINT << 40)) // sd.sdenom
                AS DOUBLE) AS direct_centi_user_days_d,
           CAST(ex.exact_ud AS DOUBLE) AS exact_user_days_d
    FROM sm
    JOIN sd ON sd.event_type = sm.event_type
    JOIN ex ON ex.event_type = sm.event_type
    """


@register("hll_partition_merge", _hll_partition_merge_oracle())
def q_hll_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB sketch pattern: per-day HLL register partials merged
    UPWARD (max per bucket) instead of re-scanning raw data — distinct
    (user, day) counts per event_type from pre-aggregated daily
    partials, emitted next to the single-pass estimate (they must be
    IDENTICAL: register max is associative) and the exact count (the
    accuracy self-check). Formerly rows-only on DataSketches
    hll_sketch_agg/hll_union_agg (estimates engine-specific); ported to
    the repo's register-exact BIGINT idiom (hll_user_days_estimate,
    VERDICT r11 #4) so the whole two-level merge is exactly DuckDB-
    oracled. Keyed by user-DAYS (~1.6k per type at sf0.01), outside the
    2.5m small-range bias zone per the r11 lesson. The DataSketches
    twin of this identity stays pinned in tests/test_relational.py.
    Scale shape: one md5 scan, (type, day, bucket) then (type, bucket)
    max-combines — partial state is |types| x |days| x 256 registers,
    merge state |types| x 256, regardless of corpus size."""
    from ..operators.topk import hll_hash_cols

    # ts filtered alongside user_id on BOTH sides: Spark's concat_ws
    # skips NULLs where the oracle's || propagates them — a NULL ts
    # would otherwise hash on one engine and vanish on the other
    # (r12 review finding; no NULL ts exists in current testdata).
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    key = F.concat_ws(
        "|",
        F.col("user_id").cast("string"),
        F.date_trunc("day", "ts").cast("date").cast("string"),
    )
    bucket, rho = hll_hash_cols(key)
    # v feeds BOTH register paths (regs_day and direct); at sf0.1 running
    # its md5/rho scan twice measured cheaper than materializing it.
    v = ev.select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        bucket.alias("bucket"),
        rho.alias("rho"),
    )
    regs_day = v.groupBy("event_type", "day", "bucket").agg(
        F.least(F.max("rho").cast("long"), F.lit(40)).alias("reg")
    )
    merged = regs_day.groupBy("event_type", "bucket").agg(
        F.max("reg").alias("reg")
    )
    direct = v.groupBy("event_type", "bucket").agg(
        F.least(F.max("rho").cast("long"), F.lit(40)).alias("reg")
    )

    def sdenom(regs: DataFrame) -> DataFrame:
        return regs.groupBy("event_type").agg(
            (
                F.sum(F.expr("shiftleft(1L, CAST(40 - reg AS INT))"))
                + (F.lit(256) - F.count(F.lit(1)))
                * F.expr("shiftleft(1L, 40)")
            ).alias("sdenom")
        )

    est = f"CAST(({_HLL_ALPHA_M2_C}L * shiftleft(1L, 40)) div sdenom AS DOUBLE)"
    sm = sdenom(merged).selectExpr(
        "event_type", f"{est} AS merged_centi_user_days_d"
    )
    sd = sdenom(direct).selectExpr(
        "event_type", f"{est} AS direct_centi_user_days_d"
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct(key).cast("double").alias("exact_user_days_d")
    )
    return sm.join(sd, "event_type").join(ex, "event_type")


# --------------------------------------------------------------------------
# Reproducible training-data plumbing: hash split, shuffled sharding, BM25
# --------------------------------------------------------------------------

@register(
    "corpus_hash_split",
    """
    SELECT doc_id,
           ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 7))
             ::UBIGINT::BIGINT % 100 AS bucket,
           CASE
             WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 7))
                    ::UBIGINT::BIGINT % 100 < 80 THEN 'train'
             WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 7))
                    ::UBIGINT::BIGINT % 100 < 90 THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents
    """,
)
def q_corpus_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by id hash (80/10/10) — no RNG,
    engine- and run-stable, narrow at any scale."""
    return text.hash_split(_t(spark, sf_dir, "documents"))


@register(
    "corpus_shuffle_shard",
    """
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 7))
               ::UBIGINT::BIGINT % 268435456 AS h
      FROM documents)
    SELECT doc_id, h % 16 AS shard,
           CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)
                AS INTEGER) AS pos_in_shard
    FROM h
    """,
)
def q_corpus_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order as (shard, pos_in_shard)
    addresses — reproducible training order; per-shard rank windows keep
    the sort distributed."""
    return text.shuffle_shard(_t(spark, sf_dir, "documents"))


@register(
    "keyword_bm25",
    r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    base AS (SELECT doc_id, t, len(t) AS dl FROM d),
    stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl
              FROM base),
    per AS (
      SELECT doc_id, dl, term,
             len(list_filter(t, x -> x = term)) AS tf
      FROM base CROSS JOIN (SELECT unnest(['spark','window','join']) AS term)),
    hit AS (SELECT * FROM per WHERE tf > 0),
    dfr AS (SELECT term, count(*) AS df FROM hit GROUP BY term)
    SELECT h.doc_id, h.term, h.tf,
           round(((n_docs - df + 0.5) / (df + 0.5))
                 * (h.tf * 2.2)
                 / (h.tf + 1.2 * (0.25 + 0.75 * (h.dl / (sum_dl / n_docs)))),
                 6) AS bm25
    FROM hit h JOIN dfr USING (term) CROSS JOIN stats
    """,
)
def q_keyword_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword scores for a literal query-term list, rational idf
    (log-free: cross-engine bit-identity needs correctly-rounded ops
    only). Only the tiny df aggregate shuffles."""
    return text.bm25_scores(_t(spark, sf_dir, "documents"))


@register(
    "corpus_chunk_tokens",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    c AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(
               0, CAST(ceil(len(toks) / 256.0) AS INT) - 1)) AS chunk_id
      FROM t)
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(least(256, n - chunk_id * 256) AS INT) AS n_tokens,
           toks[CAST(chunk_id * 256 + 1 AS INT)] AS first_token,
           toks[CAST(least((chunk_id + 1) * 256, n) AS INT)] AS last_token
    FROM c
    """,
)
def q_corpus_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget (256-token) document chunking — context-window prep.
    Narrow plan: chunk descriptors are computed inside each row's token
    array and inline-exploded; no shuffle at any corpus size."""
    return text.chunk_tokens(_t(spark, sf_dir, "documents"))


def _bpe_chain_sql() -> str:
    """DuckDB twin of the fixed-merge BPE apply chain over the
    whole-symbol-delimited form (operators/bpe.py): each symbol is
    wrapped chr(1)+s+chr(1), each merge replaces two complete adjacent
    wrapped symbols — both engines' replace() scans left-to-right
    non-overlapping, which with this encoding IS the BPE merge-apply
    rule, so token counts match exactly (no cross-symbol-boundary
    false matches: see the bpe.py module docstring)."""
    expr = r"regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g')"
    for a, b in bpe.FIXED_MERGES:
        pat = f"chr(1) || '{a}' || chr(1) || chr(1) || '{b}' || chr(1)"
        rep = f"chr(1) || '{a}{b}' || chr(1)"
        expr = f"replace({expr}, {pat}, {rep})"
    # every symbol carries exactly two chr(1)s → count = SEPs // 2
    return f"(len({expr}) - len(replace({expr}, chr(1), ''))) // 2"


def _bpe_oracle_sql() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
      FROM documents),
    t2 AS (
      SELECT doc_id, w, {_bpe_chain_sql()} AS n_toks
      FROM toks WHERE len(w) > 0)
    SELECT doc_id, CAST(count(*) AS INT) AS n_words,
           CAST(sum(len(w)) AS INT) AS n_chars,
           CAST(sum(n_toks) AS INT) AS n_bpe_tokens
    FROM t2 GROUP BY 1
    """


@register("bpe_tokenize_fixed", _bpe_oracle_sql())
def q_bpe_tokenize_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword (BPE) token accounting through the pure-Catalyst apply
    path (operators/bpe.py): each merge of the fixed table is ONE
    whole-stage-codegen replace() over the char-separated word form —
    zero Python, one scan, one doc aggregation. The oracle replays the
    identical ordered replace cascade in DuckDB (replace() left-to-right
    non-overlapping semantics agree across engines), so subword counts
    hash-check exactly."""
    return bpe.bpe_tokenize(_t(spark, sf_dir, "documents"), bpe.FIXED_MERGES)


_DUP_SPAN_GRAMS = r"""
    toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    g AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             md5(array_to_string(t[i:i+7], ' ')) AS gram_md5
      FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
      WHERE len(t) >= 8),
    s AS (
      SELECT gram_md5, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS n_docs
      FROM g GROUP BY 1)
"""


@register(
    "duplicate_span_positions",
    f"""
    WITH {_DUP_SPAN_GRAMS}
    SELECT g.doc_id, g.pos, g.gram_md5,
           CAST(s.n_docs AS INT) AS n_docs,
           CAST(s.n_occurrences AS INT) AS n_occurrences
    FROM g JOIN s USING (gram_md5)
    WHERE s.n_docs >= 2
    """,
)
def q_duplicate_span_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-duplication spans (Lee et al. ACL'22 shape): every
    position whose 8-token gram recurs in >=2 distinct documents — the
    inverse index groups on a fixed-width md5 digest, never raw text.
    The oracle rebuilds the same index in DuckDB, so positions, digests
    and frequencies all hash-check."""
    return text.duplicate_span_positions(_t(spark, sf_dir, "documents"))


@register(
    "duplicate_span_coverage",
    f"""
    WITH {_DUP_SPAN_GRAMS},
    d AS (
      SELECT DISTINCT g.doc_id, g.pos + off AS p
      FROM g JOIN s USING (gram_md5),
           unnest(generate_series(0, 7)) AS o(off)
      WHERE s.n_docs >= 2),
    cov AS (SELECT doc_id, count(*) AS dup_positions FROM d GROUP BY 1)
    SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_tokens,
           CAST(coalesce(cov.dup_positions, 0) AS INT) AS dup_positions,
           coalesce(cov.dup_positions, 0) / len(t.t) AS dup_fraction
    FROM toks t LEFT JOIN cov USING (doc_id)
    """,
)
def q_duplicate_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage — the 'how much of this doc
    is boilerplate' decision signal (span removal vs doc drop). Exact
    interval union via distinct covered positions; the DOUBLE fraction is
    one IEEE division on both engines."""
    return text.duplicate_span_coverage(_t(spark, sf_dir, "documents"))


# The Markov-walk recursive CTE, shared by the raw-generator oracle and
# the KSQL-compat pipeline oracle below (both replay the EXACT same
# md5-derived walk the Spark generator runs).
_CLICKSTREAM_WALK_SQL = """
    WITH RECURSIVE subj AS (
      SELECT i AS user_id, i >= 30 AS is_bot
      FROM unnest(generate_series(0, 39)) AS tt(i)),
    walk(user_id, is_bot, t, state) AS (
      SELECT user_id, is_bot, 0, 'main_page' FROM subj
      UNION ALL
      SELECT user_id, is_bot, t + 1,
        CASE WHEN NOT is_bot THEN CASE state
            WHEN 'main_page' THEN CASE WHEN u < 800000
              THEN 'products_listing' ELSE 'product_page' END
            WHEN 'products_listing' THEN CASE WHEN u < 900000
              THEN 'product_page' ELSE 'main_page' END
            WHEN 'product_page' THEN CASE WHEN u < 400000
              THEN 'product_gallery' ELSE 'products_listing' END
            ELSE CASE WHEN u < 900000
              THEN 'product_gallery' ELSE 'product_page' END END
        ELSE CASE state
            WHEN 'main_page' THEN 'products_listing'
            WHEN 'products_listing' THEN CASE WHEN u < 950000
              THEN 'product_page' ELSE 'main_page' END
            WHEN 'product_page' THEN CASE WHEN u < 800000
              THEN 'product_gallery' ELSE 'products_listing' END
            ELSE CASE WHEN u < 600000
              THEN 'product_gallery' ELSE 'product_page' END END
        END
      FROM (
        SELECT user_id, is_bot, t, state,
               ('0x' || substr(md5('traffic:' || user_id || ':' || (t + 1)),
                               1, 7))::UBIGINT::BIGINT % 1000000 AS u
        FROM walk WHERE t < 60) w
    )
"""


@register(
    "synthetic_clickstream",
    f"""
    {_CLICKSTREAM_WALK_SQL}
    SELECT user_id, CAST(t AS INT) AS tick,
           CAST(1647352800000 + 1000 * t AS BIGINT) AS ts_ms,
           state AS event, is_bot
    FROM walk WHERE t >= 1
    """,
)
def q_synthetic_clickstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7 parity: the reference's Markov clickstream generator
    (traffic-generator/generator.py:36-163) as deterministic Spark
    computation — 30 humans + 10 bots, one transition per 1-second tick
    from the reference-shaped matrices, randomness md5-derived per
    (user, tick). mapInPandas parallelizes over users (time stays local
    to each subject — the honest Markov shape). The oracle replays the
    EXACT same walk with a DuckDB recursive CTE, so every emitted event
    of the 60-tick simulation hash-checks cross-engine."""
    return generator.synthetic_clickstream(spark)


@register(
    "synthetic_users_profile",
    """
    WITH ids AS (SELECT i AS id FROM unnest(generate_series(0, 39)) tt(i)),
    h AS (SELECT id, md5('user:' || id) AS hx FROM ids),
    n AS (SELECT id,
      ('0x' || substr(hx, 1, 2))::UBIGINT::BIGINT AS h1,
      ('0x' || substr(hx, 3, 2))::UBIGINT::BIGINT AS h2,
      ('0x' || substr(hx, 5, 2))::UBIGINT::BIGINT AS o1,
      ('0x' || substr(hx, 7, 2))::UBIGINT::BIGINT AS o2,
      ('0x' || substr(hx, 9, 2))::UBIGINT::BIGINT AS o3,
      ('0x' || substr(hx, 11, 2))::UBIGINT::BIGINT AS o4
      FROM h)
    SELECT id, 'User_' || id AS name,
      ['Windows','Linux','Android','iOS'][CAST(h1 % 4 + 1 AS INT)]
        AS platform,
      ['PL','DE','FR'][CAST(h2 % 3 + 1 AS INT)] AS country,
      o1 || '.' || o2 || '.' || o3 || '.' || o4 AS ip_address,
      CAST(0 AS INT) AS nb_orders
    FROM n
    """,
)
def q_synthetic_users_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generator's users-dimension row (generator.py:198-214) as pure
    Catalyst md5 arithmetic: platform/country choice-list picks and IPv4
    octets all come from digest bytes, so the dimension is bit-identical
    on every engine and run — no random.choice anywhere."""
    return generator.synthetic_users_profile(spark)


@register(
    "ksql_generated_traffic",
    f"""
    {_CLICKSTREAM_WALK_SQL},
    ev AS (
      SELECT user_id, CAST(1647352800000 + 1000 * t AS BIGINT) AS ts_ms,
             state AS event
      FROM walk WHERE t >= 1)
    SELECT user_id,
           CAST((ts_ms // 60000) * 60000 AS BIGINT) AS window_start_ms,
           CAST((ts_ms // 60000) * 60000 + 60000 AS BIGINT) AS window_end_ms,
           count(*) AS n_events,
           CAST(sum(CASE WHEN event = 'product_page' THEN 1 ELSE 0 END)
                AS BIGINT) AS product_views,
           count(DISTINCT event) AS n_distinct_events
    FROM ev GROUP BY 1, 2, 3
    """,
)
def q_ksql_generated_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full demo loop through KSQL STATEMENTS over
    GENERATED traffic (VERDICT r4 #6): the deterministic Markov
    clickstream (S6/S7) is bound as a topic, declared with CREATE
    STREAM, rekeyed by user with a PARTITION BY CSAS (reference:
    README.md:28), and aggregated into a windowed CTAS table (WINDOW
    TUMBLING + WINDOWSTART/WINDOWEND pseudo-columns, COUNT_DISTINCT
    builtin — all KsqlCompat translations). The oracle replays the same
    md5 Markov walk with a recursive CTE and states the tumbling grid in
    epoch-ms integer arithmetic, so generator AND statement translation
    hash-check together end-to-end."""
    from ..ksql.compat import KsqlCompat

    clicks = generator.synthetic_clickstream(spark).withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms"))
    )
    compat = KsqlCompat(spark, {"clickstream": (clicks, "ts")})
    compat.execute("CREATE STREAM traffic WITH (KAFKA_TOPIC = 'clickstream')")
    compat.execute(
        "CREATE STREAM traffic_rekey AS "
        "SELECT user_id, event, ts FROM traffic PARTITION BY user_id"
    )
    return compat.execute(
        "CREATE TABLE traffic_stats AS "
        "SELECT user_id, WINDOWSTART AS window_start_ms, "
        "WINDOWEND AS window_end_ms, count(*) AS n_events, "
        "sum(CASE WHEN event = 'product_page' THEN 1 ELSE 0 END) AS product_views, "
        "COUNT_DISTINCT(event) AS n_distinct_events "
        "FROM traffic_rekey WINDOW TUMBLING (SIZE 1 MINUTE) GROUP BY user_id"
    )


@register(
    "doc_hash_embed",
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
    n AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM dense GROUP BY 1)
    SELECT d.doc_id,
           string_agg(CAST(round(v / greatest(nrm, 1e-12), 6) AS VARCHAR),
                      ',' ORDER BY idx) AS embedding
    FROM dense d JOIN n USING (doc_id) GROUP BY 1
    """,
)
def q_doc_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free document embeddings via the hashing trick (Weinberger
    et al. 2009): signed md5-bucket token histogram, L2-normalized — the
    bridge from the raw corpus into the embedding/ANN operators when no
    learned encoder exists. Sparse (doc, bucket) partials shuffle, never
    text; the norm sums integer-valued doubles (exact in any order), so
    the rounded 64-dim vector hash-checks exactly. Stringified (driver
    canonicalizer needs scalar cells)."""
    emb = text.hash_embed(_t(spark, sf_dir, "documents"))
    return emb.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform("embedding", lambda v: v.cast("string"))
        ).alias("embedding"),
    )


@register(
    "passage_dedup_stats",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    p AS (
      SELECT doc_id, CAST(i AS INT) AS passage_id,
             md5(array_to_string(t[i*32+1 : i*32+32], ' ')) AS digest,
             least(32, len(t) - i*32) AS n_tokens
      FROM toks,
           unnest(generate_series(0,
             CAST(ceil(len(t) / 32.0) AS BIGINT) - 1)) u(i)),
    k AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (PARTITION BY digest
                                ORDER BY doc_id, passage_id) AS rn
      FROM p)
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_passages,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT)
             AS kept_passages,
           CAST(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS INT)
             AS kept_tokens
    FROM k GROUP BY 1
    """,
)
def q_passage_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT passage-granularity dedup (the RefinedWeb-style stage between
    span detection and whole-doc dropping): fixed 32-token passages,
    md5-keyed, duplicates resolved KEEP-FIRST by global (doc_id,
    passage_id) order; per-doc retention accounting. One digest-keyed
    window shuffle; the oracle replays the identical keep-first
    resolution, so retention counts hash-check exactly."""
    return text.passage_dedup_stats(_t(spark, sf_dir, "documents"))


def _bpe_pack_oracle() -> str:
    """Compose the BPE token-count chain with the pack layout oracle: the
    per-doc subword total (whole-symbol-delimited replace cascade,
    _bpe_chain_sql) drives the same salted-hash shard + prefix-sum pack
    assignment corpus_pack_sequences states."""
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
      FROM documents),
    t2 AS (
      SELECT doc_id, {_bpe_chain_sql()} AS n_toks
      FROM toks WHERE len(w) > 0),
    bc AS (
      SELECT doc_id, CAST(sum(n_toks) AS BIGINT) AS n_tokens
      FROM t2 GROUP BY 1),
    h AS (
      SELECT doc_id, n_tokens,
             ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 7))
               ::UBIGINT::BIGINT % 268435456 AS h
      FROM bc),
    c AS (
      SELECT doc_id, h % 8 AS shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY h % 8
                                      ORDER BY h, doc_id) AS BIGINT) AS cum
      FROM h)
    SELECT doc_id, shard, n_tokens,
           CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
           CAST(cum - n_tokens AS BIGINT) AS start_offset
    FROM c
    """


@register("corpus_bpe_pack", _bpe_pack_oracle())
def q_corpus_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing driven by the REAL tokenizer: per-doc BPE subword
    totals (the whole-stage-codegen replace cascade) feed
    pack_sequences's salted-shard prefix-sum layout — packs reflect what
    the trainer actually consumes, not whitespace proxies. The oracle
    composes the two independently-verified chains and the full layout
    (shard, pack_id, start_offset) hash-checks."""
    docs = _t(spark, sf_dir, "documents")
    counts = bpe.bpe_tokenize(docs, bpe.FIXED_MERGES)
    return text.pack_sequences(
        docs.join(counts.select("doc_id", "n_bpe_tokens"), "doc_id"),
        token_count=F.col("n_bpe_tokens"),
    )


def _bpe_train_oracle(n_merges: int = 16, min_count: int = 2) -> str:
    """Unrolled-loop DuckDB twin of operators/bpe.py::train_bpe — the
    pagerank/kcore discipline applied to an iterative ARGMAX: each merge
    round is three CTEs (adjacent-pair counts over the delimited
    distinct-word frame, the 1-row argmax with the same deterministic
    (count DESC, a ASC, b ASC) tie-break, the replace() state rewrite),
    MATERIALIZED so DuckDB's CTE inlining cannot re-evaluate the prefix
    exponentially (the r7 mmr lesson). Early stop falls out for free:
    an empty argmax row empties every later state via the cross join,
    exactly like the Spark loop's break. Tokenization/char-delimiting
    reuses the fragments proven exact by bpe_tokenize_fixed."""
    sql = r"""
    WITH w0 AS MATERIALIZED (
      SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g') AS s,
             count(*) AS cnt
      FROM (
        SELECT unnest(string_split_regex(
                 replace(lower(text), chr(1), ''), '\s+')) AS w
        FROM documents) q
      WHERE len(w) > 0
      GROUP BY 1)"""
    for r in range(n_merges):
        sql += f""",
    pr{r} AS (
      SELECT cnt, unnest(list_filter(
        list_transform(syms, (x, i) -> struct_pack(a := x, b := syms[i + 1])),
        p -> p.b IS NOT NULL)) AS p
      FROM (SELECT cnt,
                   list_filter(string_split(s, chr(1)), x -> x <> '') AS syms
            FROM w{r}) q),
    b{r} AS MATERIALIZED (
      SELECT p.a AS a, p.b AS b FROM pr{r}
      GROUP BY p.a, p.b HAVING sum(cnt) >= {min_count}
      ORDER BY sum(cnt) DESC, p.a ASC, p.b ASC LIMIT 1),
    w{r + 1} AS MATERIALIZED (
      SELECT replace(w.s, chr(1) || b.a || chr(1) || chr(1) || b.b || chr(1),
                     chr(1) || b.a || b.b || chr(1)) AS s, w.cnt
      FROM w{r} w, b{r} b)"""
    sel = "\n    UNION ALL ".join(
        f"SELECT {r} AS merge_rank, a, b, a || b AS merged FROM b{r}"
        for r in range(n_merges)
    )
    return sql + "\n    " + sel


@register("bpe_train_merges", _bpe_train_oracle())
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary TRAINING (operators/bpe.py): the corpus
    is scanned once into the distinct-word frame; each of the 16 merge
    rounds is one pair-count aggregation + a 1-row argmax collect with a
    deterministic (count DESC, a ASC, b ASC) tie-break. Formerly
    rows-only ("iterative argmax isn't one SQL query") — but the merge
    sequence is a pure function of the distinct-word frame, so the
    unrolled MATERIALIZED-CTE idiom that made pagerank and the k-core
    peel exact applies verbatim: the oracle replays all 16 argmax
    rounds in generated SQL (VERDICT r11 #4). The sequence is
    additionally pinned against an independently written pure-Python
    BPE in tests/test_bpe.py."""
    merges = bpe.train_bpe(
        _t(spark, sf_dir, "documents"), n_merges=16, min_count=2
    )
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, a string, b string, merged string",
    )


@register(
    "corpus_pack_sequences",
    r"""
    WITH h AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
             ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 7))
               ::UBIGINT::BIGINT % 268435456 AS h
      FROM documents),
    c AS (
      SELECT doc_id, h % 8 AS shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY h % 8
                                      ORDER BY h, doc_id) AS BIGINT) AS cum
      FROM h)
    SELECT doc_id, shard, n_tokens,
           CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
           CAST(cum - n_tokens AS BIGINT) AS start_offset
    FROM c
    """,
)
def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing into 2048-token training packs
    inside 8 deterministic hash shards (assignment = pack where the doc
    starts). One shuffle on shard + one per-shard sort window."""
    return text.pack_sequences(_t(spark, sf_dir, "documents"))


@register(
    "pii_scrub",
    _pii_oracle(),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII span counting + sentinel redaction (email → ipv4 → phone, fixed
    order), verified by md5 of the scrubbed text. Patterns live in the
    RE2 ∩ Java-regex common dialect so both engines transform identically.
    Purely narrow JVM regex work."""
    return text.pii_scrub(_t(spark, sf_dir, "documents"))


@register(
    "corpus_domain_mix",
    r"""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source)
    SELECT source, n_docs, n_tokens,
           CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE)
             AS doc_share,
           CAST(sum(n_tokens) OVER () AS DOUBLE)
             / (CAST(count(*) OVER () AS DOUBLE) * CAST(n_tokens AS DOUBLE))
             AS uniform_weight
    FROM per
    """,
)
def q_corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixing weights toward a uniform token share — single
    integer-valued-double division per weight (bit-identical across
    engines, no round() canonicalization). The corpus never shuffles;
    the window runs over the few-row aggregate."""
    return text.domain_mix_weights(_t(spark, sf_dir, "documents"))


@register(
    "ngram_lm_score",
    r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
      WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2),
    big AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 1)) AS i
            FROM d)),
    db AS (SELECT doc_id, w1, w2, count(*) AS m FROM big GROUP BY 1, 2, 3),
    bg AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg GROUP BY 1),
    voc AS (SELECT count(DISTINCT w) AS v
            FROM (SELECT unnest(t) AS w FROM d))
    SELECT db.doc_id,
           CAST(sum(db.m) AS BIGINT) AS n_bigrams,
           round(sum(db.m * ((bg.c12 + 0.5) / (ctx.c1 + 0.5 * voc.v)))
                 / sum(db.m), 6) AS avg_cond_prob
    FROM db
    JOIN bg USING (w1, w2)
    JOIN ctx USING (w1)
    CROSS JOIN voc
    GROUP BY 1
    """,
)
def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-LM fluency scoring (add-k bigram model trained on
    the corpus itself, mean conditional probability per doc) — log-free so
    the differential oracle is exact; see text.ngram_lm_score."""
    return text.ngram_lm_score(_t(spark, sf_dir, "documents"))



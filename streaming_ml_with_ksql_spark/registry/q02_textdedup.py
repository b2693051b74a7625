"""Text analysis, minhash/simhash/ngram dedup, embedding similarity.

Split from the monolithic registry (round 7, VERDICT r6 #8); the
@register calls run at package import in the original registration
order, so ``queries()`` is unchanged.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403
from ._core import _REGISTRY, _t, register  # noqa: F401

# --------------------------------------------------------------------------
# North-star: text analysis (documents table)
# --------------------------------------------------------------------------

_TOKS_CTE = r"""
WITH toks AS (
  SELECT *, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
)
"""


@register(
    "text_stats",
    _TOKS_CTE
    + r"""
    SELECT doc_id, lang,
      length(text) AS n_chars_live,
      CAST(len(t) AS INT) AS n_tokens_ws,
      CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS INT)
        AS n_tokens_regex,
      round(len(regexp_extract_all(text, '[^a-zA-Z0-9_\s]'))
            / greatest(length(text), 1), 6) AS punct_ratio,
      round(len(list_filter(t, x -> list_contains(
              ['the','a','and','of','to','in','is'], x)))
            / greatest(len(t), 1), 6) AS stopword_ratio,
      round((length(text) - (len(t) - 1)) / greatest(len(t), 1), 6)
        AS avg_token_len,
      round(
        least(len(t) / 100.0, 1.0) * 0.4
        + least(round(len(list_filter(t, x -> list_contains(
              ['the','a','and','of','to','in','is'], x)))
            / greatest(len(t), 1), 6) * 5, 1.0) * 0.4
        + (1 - least(round(len(regexp_extract_all(text, '[^a-zA-Z0-9_\s]'))
            / greatest(length(text), 1), 6) * 10, 1.0)) * 0.2,
        6) AS quality_score
    FROM toks
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(_t(spark, sf_dir, "documents"))


_LANG_SCORE = (
    "round(len(list_filter(t, x -> list_contains({words}, x)))"
    " / greatest(len(t), 1), 6)"
)


def _lang_oracle() -> str:
    scores = {
        code: _LANG_SCORE.format(
            words="[" + ",".join(f"'{w}'" for w in words) + "]"
        )
        for code, words in sorted(text.STOPWORDS.items())
    }
    cols = ",\n      ".join(f"{expr} AS score_{c}" for c, expr in scores.items())
    return (
        _TOKS_CTE
        + f"""
    , scored AS (SELECT doc_id, lang, {cols} FROM toks)
    SELECT doc_id, lang, score_de, score_en, score_es, score_fr,
      CASE
        WHEN score_de IS NULL THEN NULL
        WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
        WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
        WHEN score_es >= score_fr THEN 'es'
        ELSE 'fr' END AS predicted_lang
    FROM scored
    """
    # The score_de IS NULL guard: a NULL text row yields NULL scores on
    # BOTH engines, but an all-NULL comparison chain falls through to
    # the ELSE branch in SQL ('fr') while Spark's when-chain leaves the
    # prediction NULL — found by the r13 documents-table poison sweep.
    )


@register("lang_id", _lang_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_t(spark, sf_dir, "documents"))


_SHINGLES_CTE = r"""
WITH toks AS (
  SELECT doc_id, lang, source, n_chars,
         string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
sh AS (
  SELECT *, CASE WHEN len(t) >= 3
    THEN list_transform(generate_series(1, len(t)-2),
                        i -> array_to_string(t[i:i+2], ' '))
    ELSE [] END AS shingles
  FROM toks
)
"""


@register(
    "doc_fingerprint",
    _SHINGLES_CTE
    + """
    SELECT doc_id,
      CAST(len(list_distinct(shingles)) AS INT) AS n_distinct_shingles,
      md5(coalesce(array_to_string(
        list_sort(list_distinct(list_transform(shingles, s -> md5(s))))[1:5],
        ''), '')) AS fingerprint
    FROM sh
    """,
    # coalesce: DuckDB array_to_string([], '') is NULL where Spark's
    # concat_ws is '' (the CLAUDE.md r9 trap) — a <3-token document
    # must fingerprint as md5('') on both engines, not NULL vs md5('')
    # (found by the r13 documents-table poison sweep).
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_fingerprint(_t(spark, sf_dir, "documents"))


@register(
    "dedup_exact_events",
    """
    SELECT e.* FROM events e
    JOIN (
      SELECT min(event_id) AS event_id FROM events
      GROUP BY md5(concat_ws(chr(31), CAST(user_id AS VARCHAR), event_type, props))
    ) w USING (event_id)
    """,
)
def q_dedup_exact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on content fingerprint (north-star; dedup.dedup_exact).
    Run on events' (user_id, event_type, props) which, unlike documents'
    unique texts, actually contains duplicates."""
    ev = _t(spark, sf_dir, "events")
    return dedup.dedup_exact(
        ev, ["user_id", "event_type", "props"], id_col="event_id"
    )


_MINHASH_SQL_BODY = _SHINGLES_CTE + """
, ds AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY 1),
dsh AS (
  SELECT doc_id,  shingle,
         CAST(('0x' || substr(md5(shingle), 1, 7))::UBIGINT AS BIGINT) AS h
  FROM ds),
sig AS (
  SELECT doc_id,
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
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN ds sa ON sa.doc_id = c.doc_a
  JOIN ds sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b,
    round(n_inter / (na.n_sh + nb.n_sh - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b)
"""

# Same universal-hash family as text.minhash_signatures — constants are
# generated from one source of truth so the two engines agree bit-for-bit.
_MINHASH_COLS = ",\n    ".join(
    f"min(({a} * h + {b}) % {text.MINHASH_P}) AS mh{i}"
    for i, (a, b) in enumerate(text.minhash_coeffs(12))
)


@register(
    "minhash_near_dup_pairs",
    _MINHASH_SQL_BODY.format(minhash_cols=_MINHASH_COLS)
    + "SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.8",
)
def q_minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.near_dup_pairs_minhash(_t(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    _SHINGLES_CTE
    + """
    , ds AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(n_inter / (na.n_sh + nb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE round(n_inter / (na.n_sh + nb.n_sh - n_inter), 6) >= 0.5
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard dedup via inverted shingle index (the
    deterministic twin of minhash_near_dup_pairs — no probabilistic
    candidate stage, same coefficient)."""
    return text.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


# Same query and oracle as ngram_jaccard_pairs: the name stays registered
# for the callers and records that knew it.
@register(
    "ngram_jaccard_pairs_prefix",
    _REGISTRY["ngram_jaccard_pairs"].oracle,
)
def q_ngram_jaccard_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs through ``text.ngram_jaccard_pairs``.

    This name used to run a PPJoin prefix filter (Xiao et al., WWW 2008):
    a self-join over each doc's rarest |d|-⌈t|d|⌉+1 shingles for
    candidates, then the exact verify. It was deleted because it lost to
    the plain inverted-index self-join at every measured size, with the
    distributed route forced on both (NGRAM_PAIRS_SINGLE_TASK_MAX_DOCS =
    0) and identical pair counts, 4-core host:

    ===========================  =====  ===========  ===========
    corpus                       t      index join   prefix plan
    ===========================  =====  ===========  ===========
    sf0.1, 5k docs (min of 3)    0.5    6.87 s       13.70 s
    sf0.1, 5k docs (min of 3)    0.8    5.01 s       9.56 s
    4x replicas, 20k docs (1)    0.5    32.8 s       117.6 s
    10x replicas, 50k docs (1)   0.5    153 s        525 s
    ===========================  =====  ===========  ===========

    The prefix plan paid a global df aggregate, a per-doc window and a
    prefix self-join before the verify; the candidates it pruned never
    paid that back. The earlier note here (prefix 30 s against the index
    join's 266 s at 10x replication, candidate volume ~2.8x lower) was
    taken before the pair operators shared ``text._pair_counts``, and the
    measurements above contradict it. Below the kernel gate the plain
    operator also runs as one Arrow task, which the prefix plan had no
    route to."""
    return text.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


_DEDUP_COMPONENTS_ORACLE = r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id, CASE WHEN len(t) >= 3
        THEN list_transform(generate_series(1, len(t)-2),
                            i -> array_to_string(t[i:i+2], ' '))
        ELSE [] END AS shingles
      FROM toks),
    ds AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes na ON na.doc_id = doc_a
      JOIN sizes nb ON nb.doc_id = doc_b
      WHERE round(n_inter / (na.n_sh + nb.n_sh - n_inter), 6) >= 0.5),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(u, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.u),
    comp AS (SELECT u AS doc_id, min(label) AS group_id FROM reach GROUP BY u)
    SELECT c.doc_id, c.group_id, s.group_size
    FROM comp c
    JOIN (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1) s
      USING (group_id)
    """


@register("dedup_components", _DEDUP_COMPONENTS_ORACLE)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CONNECTED COMPONENTS: exact n-gram Jaccard pairs resolved
    into transitive dedup groups (doc_id, group_id = component min id,
    group_size) by graph.connected_components — the step between pair
    emission and "keep one representative". The oracle recomputes the same
    components with a recursive CTE, so the fixpoint itself is
    hash-checked against an independent engine."""
    docs = _t(spark, sf_dir, "documents")
    pairs = text.ngram_jaccard_pairs(docs)
    return graph.dedup_groups(docs, pairs)


@register("dedup_components_star", _DEDUP_COMPONENTS_ORACLE)
def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same code as dedup_components, kept under its registered name:
    graph.connected_components has one distributed loop, the alternating
    large-star / small-star contraction (Kiveris et al. SoCC'14), which
    rewrites the edge set toward a star forest in O(log d) rounds.
    Registered against the identical recursive-CTE oracle."""
    docs = _t(spark, sf_dir, "documents")
    pairs = text.ngram_jaccard_pairs(docs)
    return graph.dedup_groups(docs, pairs)


@register(
    "heavy_hitters_users",
    """
    SELECT user_id, count(*) AS n
    FROM events GROUP BY user_id HAVING count(*) >= 70
    """,
)
def q_heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequency-threshold heavy hitters with per-partition Arrow
    pre-pruning (pigeonhole candidates, broadcast-verified exact counts) —
    the tail never shuffles. Result ≡ plain GROUP BY ... HAVING, which is
    what the oracle states."""
    return topk.heavy_hitters(
        _t(spark, sf_dir, "events").select("user_id"), "user_id", min_count=70
    )


@register(
    "repetition_stats",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    w AS (SELECT doc_id, unnest(t) AS term FROM toks),
    wc AS (SELECT doc_id, term, count(*) AS n FROM w GROUP BY 1, 2),
    ws AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS w_total,
                  count(*) AS w_distinct, max(n) AS w_max
           FROM wc GROUP BY 1),
    bga AS (SELECT doc_id, CASE WHEN len(t) >= 2
              THEN list_transform(generate_series(1, len(t)-1),
                                  i -> array_to_string(t[i:i+1], ' '))
              ELSE [] END AS bgs
            FROM toks),
    b AS (SELECT doc_id, unnest(bgs) AS term FROM bga),
    bc AS (SELECT doc_id, term, count(*) AS n FROM b GROUP BY 1, 2),
    bs AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS b_total,
                  count(*) AS b_distinct, max(n) AS b_max
           FROM bc GROUP BY 1)
    SELECT ws.doc_id, w_total AS n_words,
           round(w_distinct / greatest(coalesce(w_total, 0), 1), 6)
             AS distinct_word_frac,
           round(w_max / greatest(coalesce(w_total, 0), 1), 6)
             AS top_word_frac,
           round(1 - coalesce(b_distinct, 0)
                     / greatest(coalesce(b_total, 0), 1), 6)
             AS dup_bigram_frac,
           round(coalesce(b_max, 0) / greatest(coalesce(b_total, 0), 1), 6)
             AS top_bigram_frac
    FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality metrics per doc (distinct/top word
    and bigram fractions) — the standard LLM-corpus repetition filter
    signals, all from (doc, term) groupBy partials."""
    return text.repetition_stats(_t(spark, sf_dir, "documents"))


_DECON_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents),
    sh AS (SELECT doc_id, CASE WHEN len(t) >= 4
             THEN list_transform(generate_series(1, len(t)-3),
                                 i -> array_to_string(t[i:i+3], ' '))
             ELSE [] END AS shingles
           FROM toks),
    ds AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
    bench AS (SELECT DISTINCT shingle FROM ds WHERE doc_id % 97 = 0),
    train AS (SELECT * FROM ds WHERE doc_id % 97 <> 0)
    SELECT t.doc_id, count(*) AS n_shared_shingles
    FROM train t JOIN bench b ON t.shingle = b.shingle
    GROUP BY 1
    """


@register("benchmark_decontaminate", _DECON_ORACLE)
def q_benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (eval-overlap filter): training docs
    sharing any word 4-gram with the pseudo-benchmark slice
    (doc_id % 97 == 0), via a broadcast of the benchmark's distinct
    shingle set — the corpus side never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return text.decontaminate(train, bench, n=4)


@register(
    "json_extract_props",
    # json_valid guard (r13 events poison sweep): Spark's
    # from_json/get_json_object return NULL on malformed JSON, while
    # DuckDB's json_extract_string RAISES — the guard makes the oracle
    # degrade to NULL identically.
    """
    SELECT event_id, event_type,
           CASE WHEN props IS NOT NULL AND json_valid(props)
                THEN CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                          AS DOUBLE)
                ELSE NULL END AS k_val,
           CASE WHEN props IS NOT NULL AND json_valid(props)
                THEN json_extract_string(props, '$.k')
                ELSE NULL END AS k_str
    FROM events
    """,
)
def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns (KSQL VALUE_FORMAT=JSON analog, reference
    README.md:27 topics are JSON/Avro): the events `props` JSON string
    parsed both ways — strictly typed `from_json` (schema'd struct field)
    and path-style `get_json_object`. k_val is DOUBLE (nullable-integer
    bridge rule: malformed/missing keys surface as NULL — on BOTH
    engines, see the oracle's json_valid guard)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.from_json(F.col("props"), "k BIGINT")["k"].cast("double").alias("k_val"),
        F.get_json_object(F.col("props"), "$.k").alias("k_str"),
    )


@register(
    "embedding_quantize_int8",
    """
    WITH scaled AS (
      SELECT vec_id, label,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) / 127
               AS scale
      FROM embeddings)
    SELECT s.vec_id, s.label, s.scale,
           array_to_string(
             CASE WHEN s.scale = 0
               THEN list_transform(e.embedding, x -> 0)
               ELSE list_transform(e.embedding,
                      x -> CAST(floor(CAST(x AS DOUBLE) / s.scale + 0.5) AS INT))
             END, ',') AS codes
    FROM scaled s JOIN embeddings e USING (vec_id)
    """,
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    standard 4× storage/bandwidth reduction for vector search at 100 TB
    (codes in [-127,127], per-vector scale = max|x|/127). Entirely JVM
    array expressions; floor(x/scale + 0.5) instead of round() because
    both engines' floor over identical IEEE doubles is bit-deterministic
    (round()'s tie-breaking is not guaranteed identical). Dequantization
    error ≤ scale/2 is pinned in tests/test_similarity.py. Codes surface as
    a comma-joined string (exact for ints) — the driver's canonicalizer
    sorts result cells and cannot sort raw list cells (round-2 failure)."""
    emb = _t(spark, sf_dir, "embeddings")
    maxabs = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    scale = (maxabs / F.lit(127)).alias("scale")
    with_scale = emb.select("vec_id", "label", "embedding", scale)
    codes = F.when(
        F.col("scale") == 0,
        F.transform(F.col("embedding"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") / F.col("scale") + F.lit(0.5)).cast(
                "int"
            ),
        )
    )
    return with_scale.select(
        "vec_id",
        "label",
        "scale",
        F.concat_ws(",", codes.cast("array<string>")).alias("codes"),
    )


@register(
    "dedup_near_minhash",
    _MINHASH_SQL_BODY.format(minhash_cols=_MINHASH_COLS)
    + """
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT doc_b FROM pairs WHERE jaccard >= 0.8)
    """,
)
def q_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.dedup_near_minhash(_t(spark, sf_dir, "documents"))


_SIMHASH_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
dt AS (SELECT DISTINCT doc_id, unnest(t) AS tok FROM toks),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT AS BIGINT) AS h
      FROM dt),
votes AS (
  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) % 2 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) b
  GROUP BY 1, 2),
fp AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
         AS BIGINT) AS simhash
  FROM votes GROUP BY 1),
banded AS (
  SELECT doc_id, simhash, band_id, (simhash >> (band_id * 8)) % 256 AS band_val
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band_id) b),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


@register("simhash_near_dup_pairs", _SIMHASH_ORACLE)
def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.near_dup_pairs_simhash(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# North-star: embedding similarity search
# --------------------------------------------------------------------------

_EMB_CTE = """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
"""


@register(
    "embedding_topk_bruteforce",
    _EMB_CTE
    + """
    , q AS (SELECT vec_id AS query_id, e AS qe FROM emb WHERE vec_id < 20),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
        round(list_dot_product(qe, c.e)
              / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.e, c.e))),
              6) AS cosine
      FROM q CROSS JOIN emb c WHERE c.vec_id != query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
        CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5
    """,
)
def q_embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(_t(spark, sf_dir, "embeddings"))


_EMB_PAIRS_ORACLE = (
    _EMB_CTE
    + """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      round(list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
            6) AS cosine
    FROM emb a JOIN emb b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
          6) >= 0.4
    """
)


@register("embedding_near_dup_pairs", _EMB_PAIRS_ORACLE)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered on the blocked-GEMM dense scan: at this threshold (0.4 —
    the testdata's natural tail; no planted high-cosine dups exist) sign-LSH
    has no amplification gap (p≈0.63 vs 0.5) and any high-recall bucketing
    admits ~94% of all pairs as candidates. The dense scan pays the
    unavoidable O(n²·d) FLOPs at BLAS speed with ZERO pair shuffle — no
    join node in the plan at all (asserted in tests/test_plans.py). Exact
    rescoring makes survivors bit-identical to the all-pairs SQL oracle."""
    return similarity.embedding_near_dup_pairs_blocked(
        _t(spark, sf_dir, "embeddings")
    )


@register("embedding_near_dup_pairs_lsh", _EMB_PAIRS_ORACLE)
def q_embedding_near_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed near-dup pairs — the serving shape for HIGH
    thresholds, where the bucket equi-join genuinely prunes. Exact-cosine
    re-rank makes surviving pairs bit-identical, so the same all-pairs SQL
    oracle verifies it (recall at these parameters is measured 100% on the
    testdata; see tests/test_similarity.py)."""
    return similarity.embedding_near_dup_pairs_lsh(_t(spark, sf_dir, "embeddings"))


@register(
    "embedding_dedup_groups",
    """
    WITH RECURSIVE emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS pa, b.vec_id AS pb
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e))
               * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4),
    edges AS (SELECT pa AS u, pb AS v FROM pairs
              UNION ALL SELECT pb, pa FROM pairs),
    reach(u, label) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.u),
    comp AS (SELECT u AS vec_id, min(label) AS group_id FROM reach GROUP BY u)
    SELECT c.vec_id, c.group_id, s.group_size
    FROM comp c
    JOIN (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1) s
      USING (group_id)
    """,
)
def q_embedding_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup groups — the SemDeDup step
    (Abbas et al. 2023): cosine near-dup pairs resolved into transitive
    keep-one-representative groups. Reuses the exact-rescored pair
    generator (bit-identical to the all-pairs SQL); components come from
    graph.connected_components (min-id labels), so the fixpoint is
    hash-checked against DuckDB's recursive CTE."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs_blocked(emb)
    return graph.dedup_groups(
        emb,
        pairs,
        id_col="vec_id",
        a_col="vec_a",
        b_col="vec_b",
    )


def _lshx_topk_oracle(
    n_queries: int = similarity.LSHX_PARAMS["n_queries"],
    k: int = similarity.LSHX_PARAMS["k"],
    n_tables: int = similarity.LSHX_PARAMS["n_tables"],
    n_planes: int = similarity.LSHX_PARAMS["n_planes"],
    dim: int = similarity.LSHX_PARAMS["dim"],
) -> str:
    """DuckDB twin of lsh_bucket_topk_exact: the SAME generated +-sum
    sign expressions over milli-quantized ints (shared literal matrix,
    shared textual order — similarity.lshx_sign_sum), the same hamming-1
    multiprobe via xor, then brute_force_topk's proven rounded-cosine
    scoring restricted to the candidate set. The approximation is
    deterministic, so the whole ANN query hash-checks end to end."""
    s_cols = ",\n      ".join(
        similarity.lshx_sign_sum(t, p, "qv[{i}]")
        + f" AS s_{t}_{p}"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    b_cols = ",\n      ".join(
        " + ".join(
            f"CASE WHEN s_{t}_{p} > 0 THEN {1 << p} ELSE 0 END"
            for p in range(n_planes)
        )
        + f" AS b_{t}"
        for t in range(n_tables)
    )
    corpus = "\n      UNION ALL ".join(
        f"SELECT vec_id AS neighbor_id, e AS c_e, {t} AS table_id,"
        f" b_{t} AS bucket FROM b"
        for t in range(n_tables)
    )
    probes = "\n      UNION ALL ".join(
        f"SELECT vec_id AS query_id, e AS q_e, {t} AS table_id,"
        " unnest(["
        + ", ".join(
            [f"b_{t}"] + [f"xor(b_{t}, {1 << p})" for p in range(n_planes)]
        )
        + f"]) AS bucket FROM b WHERE vec_id < {n_queries}"
        for t in range(n_tables)
    )
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
                 WHERE embedding IS NOT NULL AND len(embedding) = {dim}
                   AND len(list_filter(embedding,
                           x -> x IS NULL OR isnan(x)
                                OR abs(x) > 10000.0)) = 0),
    qv AS MATERIALIZED (
      SELECT vec_id, e,
             list_transform(e, x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
      FROM emb),
    s AS MATERIALIZED (SELECT vec_id, e,
      {s_cols}
      FROM qv),
    b AS MATERIALIZED (SELECT vec_id, e,
      {b_cols}
      FROM s),
    corpus AS ({corpus}),
    probes AS ({probes}),
    cands AS (
      SELECT DISTINCT p.query_id, p.q_e, c.neighbor_id, c.c_e
      FROM probes p JOIN corpus c
        ON c.table_id = p.table_id AND c.bucket = p.bucket
      WHERE p.query_id != c.neighbor_id),
    scored AS (
      SELECT query_id, neighbor_id,
        round(list_dot_product(q_e, c_e)
              / (sqrt(list_dot_product(q_e, q_e))
                 * sqrt(list_dot_product(c_e, c_e))), 6) AS cosine
      FROM cands),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
        CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {k}
    """


@register("embedding_topk_lsh", _lshx_topk_oracle())
def q_embedding_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN (scale path), EXACT end to end since r12: bucket
    membership comes from integer +-sums of milli-quantized coordinates
    against a deterministic md5 Rademacher plane matrix (the float
    hyperplanes of similarity.lsh_bucket_topk made last-ulp sign flips
    possible, so the candidate SET itself wasn't cross-engine stable),
    and candidates are scored/ranked exactly like the already-oracled
    embedding_topk_bruteforce. Still approximate AS AN ANN (bucketing
    decides which neighbors are considered) — but deterministically so,
    which is what lets the driver hash-check it; recall vs brute force
    stays pinned in tests/test_similarity.py. The float-plane operator
    remains public as similarity.lsh_bucket_topk."""
    return similarity.lsh_bucket_topk_exact(_t(spark, sf_dir, "embeddings"))



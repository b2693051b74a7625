"""Embedding similarity search (north-star surface, BASELINE.json).

Four ANN families over an ``array<float>`` embedding column, plus the
exact near-duplicate operators:

- **Brute-force cosine top-k** — the exactness baseline and the oracle-able
  form: queries × corpus join, JVM-side `zip_with`/`aggregate` dot product,
  rank by (rounded cosine, candidate id). At 100 TB this is the *verifier*,
  run on samples, not the serving path.
- **Sign-LSH bucketed ANN** — P deterministic random hyperplanes (seeded
  md5, no RNG at plan time) give a P-bit bucket id; candidates share a
  probed bucket (multi-probe hamming ≤ 1), then exact cosine re-ranks. The
  corpus-side bucket id is computed once (narrow map), and the join is an
  equi-join on bucket id — no all-pairs shuffle.
- **IVF / PQ / IVF-PQ** — write-once index artifacts split from fit-free
  search (``build_*_index`` / ``*_search``; VERDICT r4 #4), persistable as
  plain parquet relations: KMeans cells restrict WHICH vectors a query
  scans, product-quantized codes decide how CHEAPLY each one is scored
  (broadcast ADC tables, partition-local prune, exact re-rank).

Dense-vector arithmetic (bucket matmuls, candidate-pair cosine) runs in
Arrow-batched numpy kernels (`pandas_udf`): Catalyst's higher-order
``aggregate(zip_with(...))`` evaluates per element, interpreted — ~50×
slower at hundreds of hyperplanes. The pair-cosine kernel folds dimensions
sequentially so its doubles stay bit-identical to the JVM fold and the
DuckDB oracle (see _pair_cosine_udf). Candidate generation carries only
ids; embeddings join back onto the deduped pair list.

Similarities are rounded to 6 dp *before* ranking with a vec_id tie-break:
cross-engine float sums differ in the last ulp, and ranking on rounded
values keeps top-k membership deterministic (SURVEY.md §7 scale discipline).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from . import sizing

__all__ = [
    "cosine_sim",
    "brute_force_topk",
    "binary_quantize",
    "binary_hamming_topk",
    "embedding_near_dup_pairs",
    "embedding_near_dup_pairs_blocked",
    "embedding_near_dup_pairs_lsh",
    "lsh_bucket_topk",
    "IvfIndex",
    "build_ivf_index",
    "ivf_search",
    "ivf_topk",
    "PqIndex",
    "build_pq_index",
    "pq_search",
    "pq_topk",
    "IvfPqIndex",
    "build_ivfpq_index",
    "ivfpq_search",
    "ivfpq_topk",
    "cluster_quality",
]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_sim(a: Column, b: Column, *, decimals: int = 6) -> Column:
    """Rounded cosine similarity of two array<double> columns."""
    sim = _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))
    return F.round(sim, decimals)


def _cosine_prenormed(
    a: Column, b: Column, norm_a: Column, norm_b: Column, *, decimals: int = 6
) -> Column:
    """cosine with per-vector norms precomputed ONCE per side instead of
    per pair — 3× fewer array reductions in the pair stage, float-identical
    to cosine_sim (same sqrt(dot(x,x)) expression, evaluated earlier)."""
    return F.round(_dot(a, b) / (norm_a * norm_b), decimals)


def _as_double(df: DataFrame, col: str = "embedding") -> DataFrame:
    return df.withColumn(col, F.col(col).cast("array<double>"))


def _with_norm(df: DataFrame, emb_col: str, norm_col: str) -> DataFrame:
    e = F.col(emb_col)
    return df.withColumn(norm_col, F.sqrt(_dot(e, e)))


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread the streamed side of a pair stage across the FULL configured
    parallelism — embedding tables are byte-small (one input partition)
    but the pair work is O(n²·dim) CPU. Deliberately NOT size-capped like
    text/multimodal's fan-out (operators/sizing.py): per-row cost here
    scales with the corpus itself, so even a small frame saturates every
    core, and under-fanning is the costlier mistake."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n)


def _probe_scan(corpus: DataFrame, probe: DataFrame) -> DataFrame:
    """Scale-correct brute-force orientation (VERDICT r8 #2): the bounded
    probe/anchor frame is the broadcast BUILD side — a few dozen rows at
    every scale — while the unbounded corpus STREAMS, fanned out across
    the configured parallelism. The previous orientation broadcast the
    corpus (fine at sf0.1's ~25 MB, dead at 100×); flipping sides yields
    the identical result set with a broadcast that never grows."""
    return _fan_out(corpus).crossJoin(F.broadcast(probe))


def _keyed_topk(
    scored: DataFrame,
    key: str,
    order: str,
    tie_id: str,
    k: int,
    *,
    n_salt: int = 32,
    ascending: bool = False,
) -> DataFrame:
    """Exact per-key top-k without a skewed single-reducer-per-key window:
    level 1 ranks within (key, tie_id % n_salt) groups — the one full
    shuffle of scored rows lands on key×n_salt balanced reducers, each
    emitting at most k rows — level 2 ranks the ≤ k·n_salt survivors per
    key. Membership is exact: every global top-k row is top-k within its
    salt group (same (order desc, tie_id asc) ordering both levels).
    Appends an int ``rnk`` column (1-based). ``ascending`` flips the
    order column's direction (distance metrics rank small-first)."""
    oc = F.col(order).asc() if ascending else F.col(order).desc()
    w1 = Window.partitionBy(F.col(key), F.col(tie_id) % n_salt).orderBy(
        oc, F.col(tie_id).asc()
    )
    w2 = Window.partitionBy(key).orderBy(oc, F.col(tie_id).asc())
    pruned = (
        scored.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1")
    )
    return (
        pruned.withColumn("rnk", F.row_number().over(w2).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def brute_force_topk(
    embeddings: DataFrame,
    *,
    n_queries: int = 20,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: the first ``n_queries`` vec_ids against the full
    corpus (self-matches excluded). Output: (query_id, neighbor_id, cosine,
    rank). Probe side broadcasts, corpus streams (_probe_scan); the rank
    is the salted two-level exact top-k (_keyed_topk)."""
    emb = _as_double(embeddings).select("vec_id", "embedding")
    q = _with_norm(
        emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        ),
        "q_emb",
        "q_norm",
    )
    c = _with_norm(
        emb.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
        ),
        "c_emb",
        "c_norm",
    )
    scored = (
        _probe_scan(c, q)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_prenormed(
                F.col("q_emb"), F.col("c_emb"), F.col("q_norm"), F.col("c_norm")
            ).alias("cosine"),
        )
    )
    return _keyed_topk(scored, "query_id", "cosine", "neighbor_id", k).select(
        "query_id", "neighbor_id", "cosine", "rnk"
    )


def binary_quantize(
    embeddings: DataFrame, *, id_col: str = "vec_id"
) -> DataFrame:
    """Sign-bit binary quantization of a 64-dim embedding into two
    32-bit words — the 32x memory/bandwidth reduction that makes
    billion-vector first-stage retrieval feasible (binary embeddings +
    Hamming shortlist + float re-rank is the standard production
    recipe). bit_i = 1 iff embedding[i] > 0 (ties at 0.0 quantize to 0
    — deterministic, no epsilon). Two BIGINT-typed words each < 2^32
    (``w_lo`` dims 0-31, ``w_hi`` dims 32-63) rather than one 64-bit
    word, so no value ever touches the sign bit and shift/sum semantics
    are engine-portable. Narrow map — no shuffle, no Python."""
    emb = _as_double(embeddings)

    def word(first_dim: int) -> Column:
        # SQL shiftleft accepts a column shift (the DataFrame-API
        # F.shiftleft does not); bits are disjoint so sum == OR.
        return F.expr(
            "aggregate(transform(sequence(0, 31), i ->"
            f" IF(element_at(embedding, i + {first_dim + 1}) > 0.0D,"
            " shiftleft(1L, i), 0L)), 0L, (a, x) -> a + x)"
        )

    return emb.select(
        F.col(id_col),
        *([c for c in ("label",) if c in emb.columns]),
        word(0).alias("w_lo"),
        word(32).alias("w_hi"),
    )


def binary_hamming_topk(
    embeddings: DataFrame,
    *,
    n_queries: int = 20,
    k: int = 5,
) -> DataFrame:
    """Exact Hamming top-k over sign-quantized binary embeddings: the
    first ``n_queries`` vec_ids against the full corpus (self excluded),
    distance = popcount(lo_q XOR lo_c) + popcount(hi_q XOR hi_c) —
    pure 64-bit integer arithmetic end to end, so the ranking is exactly
    oracle-able (DuckDB xor + bit_count) and immune to float folds.

    Scale shape: quantization is a narrow map (the corpus's binary codes
    are 16 bytes/vector — at 100 TB of float32 embeddings the code table
    is ~0.8 TB and SCANS where the floats couldn't); the bounded probe
    set broadcasts (_probe_scan) and the rank is the salted two-level
    top-k ordered ascending. Output: (query_id, neighbor_id, hamming,
    rnk) with (hamming asc, neighbor_id asc) ties."""
    codes = binary_quantize(embeddings).select("vec_id", "w_lo", "w_hi")
    q = codes.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
    )
    c = codes.select(
        F.col("vec_id").alias("neighbor_id"), "w_lo", "w_hi"
    )
    scored = (
        _probe_scan(c, q)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.col("q_lo").bitwiseXOR(F.col("w_lo")))
                + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("w_hi")))
            ).cast("long").alias("hamming"),
        )
    )
    return _keyed_topk(
        scored, "query_id", "hamming", "neighbor_id", k, ascending=True
    ).select("query_id", "neighbor_id", "hamming", "rnk")


def embedding_near_dup_pairs(
    embeddings: DataFrame, *, threshold: float = 0.4
) -> DataFrame:
    """Embedding-cosine near-dup pairs: all (a < b) with cosine ≥ threshold.
    All-pairs form is the oracle baseline; at scale, swap the crossJoin for
    lsh_bucket candidates (same verify expression)."""
    emb = _as_double(embeddings).select("vec_id", "embedding")
    a = _with_norm(
        _fan_out(
            emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
        ),
        "ea",
        "na",
    )
    b = _with_norm(
        emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")),
        "eb",
        "nb",
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            _cosine_prenormed(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _gemm_tile_scan(bc, threshold: float, margin: float):
    """Build the mapInPandas kernel for ONE broadcast corpus tile — a
    factory so each tile's closure captures its own broadcast handle."""

    def scan(batches):
        c_ids, c_mat = bc.value
        c_norm = np.sqrt(np.einsum("ij,ij->i", c_mat, c_mat))
        for pdf_a in batches:
            if not len(pdf_a):
                continue
            a_ids = pdf_a["vec_id"].to_numpy(dtype=np.int64)
            a_mat = np.vstack(pdf_a["embedding"].to_numpy()).astype(np.float64)
            a_norm = np.sqrt(np.einsum("ij,ij->i", a_mat, a_mat))
            cos = (a_mat @ c_mat.T) / np.outer(a_norm, c_norm)
            ai, ci = np.nonzero(
                (cos >= threshold - margin) & (a_ids[:, None] < c_ids[None, :])
            )
            if not len(ai):
                continue
            # exact sequential-fold rescore of the tiny survivor set
            a_s, c_s = a_mat[ai], c_mat[ci]
            dot = np.zeros(len(ai))
            na = np.zeros(len(ai))
            nb = np.zeros(len(ai))
            for d in range(a_s.shape[1]):
                dot += a_s[:, d] * c_s[:, d]
                na += a_s[:, d] * a_s[:, d]
                nb += c_s[:, d] * c_s[:, d]
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ai],
                    "vec_b": c_ids[ci],
                    "cosine": dot / (np.sqrt(na) * np.sqrt(nb)),
                }
            )

    return scan


def embedding_near_dup_pairs_blocked(
    embeddings: DataFrame,
    *,
    threshold: float = 0.4,
    tile_budget_bytes: int = 256 << 20,
    n_tiles: int | None = None,
) -> DataFrame:
    """Dense blocked-GEMM near-dup scan — the scale path for LOW thresholds.

    Sign-LSH amplifies the gap between a pair's collision probability
    ``p = 1 - angle/pi`` and a random pair's 0.5. At cosine 0.4, p ≈ 0.63:
    with any (planes, tables, probes) setting that reaches high recall, the
    expected candidate set is most of all pairs (measured 94% on the driver
    testdata) — the bucketed join degenerates to all-pairs plus overhead.
    The honest dense plan instead treats the corpus as a sequence of
    broadcastable matrix tiles and scans each with one BLAS matmul per
    Arrow batch:

    - **Bounded driver footprint.** The corpus is split into
      ``T = ceil(rows · row_bytes / tile_budget_bytes)`` tiles by
      ``pmod(vec_id, T)``; only ONE tile is ever collected to the driver
      at a time (then broadcast to executors), so driver memory is capped
      by ``tile_budget_bytes`` regardless of corpus size. (Assumes
      roughly uniform vec_id residues — dense ids give exact balance;
      pathologically clustered ids would need a hash residue instead.)
    - **Zero pair shuffle.** No join node at all: ``mapInPandas`` over the
      row side, one scan pass per tile, results unioned. Non-passing pairs
      never materialize as rows — only the survivors (plus a float-margin
      sliver) leave the kernel.
    - **FLOPs at BLAS speed.** (batch × dim) @ (dim × tile) per batch vs
      per-pair interpreted folds; the O(n²·d) work is unavoidable at this
      threshold (that's the information-theoretic cost), so pay it at
      matmul throughput. At 100 TB, cache/persist the row side so the T
      passes re-read columnar memory, not parquet.

    Exactness: the GEMM filters with a 1e-6 margin, then survivors are
    re-scored with the dimension-ordered sequential fold (bit-identical to
    the JVM/DuckDB fold); the final round+threshold happens JVM-side. A
    pair (a, b) is emitted by exactly the tile containing b, so the union
    over tiles is bit-identical to the single-tile form — same pairs, same
    cosines, same oracle.

    For HIGH thresholds (true near-dup, cosine ≥ ~0.9) prefer
    ``embedding_near_dup_pairs_lsh`` — there the amplification gap is real
    and the bucketed join prunes almost everything.

    ``last_tile_rows`` on the function records the per-tile collected row
    counts of the most recent call (test hook for the budget invariant).
    """
    emb = _as_double(embeddings).select("vec_id", "embedding")
    spark = emb.sparkSession
    margin = 1e-6
    schema = "vec_a long, vec_b long, cosine double"

    if n_tiles is None:
        n_rows = emb.count()
        first = emb.select(F.size("embedding").alias("d")).first()
        dim = (first["d"] if first is not None else 0) or 0
        row_bytes = dim * 8 + 64  # float64 payload + id/pandas overhead
        n_tiles = max(1, -(-(n_rows * row_bytes) // tile_budget_bytes))

    fanned = _fan_out(emb)
    parts: list[DataFrame] = []
    tile_rows: list[int] = []
    for t in range(n_tiles):
        tile = (
            emb.filter(F.pmod(F.col("vec_id"), F.lit(n_tiles)) == t)
            if n_tiles > 1
            else emb
        )
        pdf = tile.toPandas()  # bounded: ≤ tile_budget_bytes by construction
        if not len(pdf):
            continue
        tile_rows.append(len(pdf))
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        bc = spark.sparkContext.broadcast((ids, mat))
        parts.append(
            fanned.mapInPandas(_gemm_tile_scan(bc, threshold, margin), schema)
        )
    embedding_near_dup_pairs_blocked.last_tile_rows = tile_rows

    if not parts:
        out = spark.createDataFrame([], schema)
    else:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
    return out.select(
        "vec_a", "vec_b", F.round(F.col("cosine"), 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def _lsh_buckets_udf(n_tables: int, n_planes: int, dim: int):
    """Vectorized Arrow kernel: all ``n_tables`` sign-bucket ids of a vector
    in one numpy matmul — (batch × dim) @ (dim × tables·planes) — instead of
    tables·planes separate Catalyst ``aggregate(zip_with(...))`` folds
    (higher-order functions evaluate per element, interpreted: ~50× slower
    at 144 planes). Same deterministic hyperplanes; bucket membership is
    only a candidate-generation concern, and recall is pinned by the
    exact-match test against the all-pairs baseline."""
    mat = np.array(
        [_hyperplanes(t, n_planes, dim) for t in range(n_tables)], dtype=np.float64
    ).reshape(n_tables * n_planes, dim).T  # (dim, T·P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<int>")
    def buckets(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        e = np.vstack(emb.to_numpy())  # (n, dim) float64
        bits = (e @ mat) > 0  # (n, T·P)
        b = bits.reshape(len(e), -1, len(weights)) @ weights  # (n, T)
        return pd.Series(list(b.astype(np.int32)))

    return buckets


def _pair_cosine_udf():
    """Candidate-pair cosine, vectorized ACROSS pairs but folded
    sequentially ACROSS dimensions — the per-dimension left-to-right
    accumulation is bit-identical to the JVM ``aggregate(zip_with(...))``
    fold and DuckDB's ``list_dot_product`` loop, so rounded values agree
    with the all-pairs oracle exactly. Rounding stays JVM-side (engines
    disagree on round-half semantics; the raw double is what's canonical).
    Built lazily: pandas_udf needs an active session.
    """

    @pandas_udf("double")
    def pair_cosine(ea: pd.Series, eb: pd.Series) -> pd.Series:
        if len(ea) == 0:
            return pd.Series([], dtype=float)
        a = np.vstack(ea.to_numpy())
        b = np.vstack(eb.to_numpy())
        n = len(a)
        dot = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        for d in range(a.shape[1]):  # sequential fold over dims, like the JVM
            dot += a[:, d] * b[:, d]
            na += a[:, d] * a[:, d]
            nb += b[:, d] * b[:, d]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    return pair_cosine


def embedding_near_dup_pairs_lsh(
    embeddings: DataFrame,
    *,
    threshold: float = 0.4,
    n_tables: int = 24,
    n_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-LSH candidate generation —
    the serving-path form of ``embedding_near_dup_pairs``.

    Shape: each vector gets ``n_tables`` sign-bucket ids (one narrow map);
    one side additionally probes all hamming-1 bucket flips; candidates come
    from an equi-join on (table_id, bucket) — **no CartesianProduct /
    BroadcastNestedLoop anywhere in the plan** (asserted in
    tests/test_plans.py). Exact rounded cosine then re-ranks candidates with
    the same expression as the all-pairs form, so any pair that survives is
    bit-identical to the oracle's.

    Candidate cost is Σ_buckets |bucket|² per table instead of n²: at 100 TB
    tune n_planes up so buckets stay bounded, and the shuffle carries
    (table, bucket)-grouped vectors, never the cross product.

    Recall: probabilistic in general (1-(1-p^P(1+P(1/p-1)))^T per pair), but
    the defaults are chosen with measured 100% recall against the all-pairs
    baseline on the driver testdata at both sf0.01 and sf0.1 — verified in
    tests/test_similarity.py against embedding_near_dup_pairs.
    """
    emb = _as_double(embeddings).select("vec_id", "embedding")

    bucket_udf = _lsh_buckets_udf(n_tables, n_planes, dim)
    # Candidates carry ONLY ids through explode/join/dedup — the 64-double
    # embedding arrays would otherwise ride through every shuffle (probes
    # explode 7× per table). Embeddings join back onto the deduped pair
    # list, which is the smallest frame in the plan.
    base = _fan_out(emb).withColumn("buckets", bucket_udf(F.col("embedding")))
    tagged = base.select("vec_id", F.posexplode("buckets").alias("table_id", "bucket"))

    corpus = tagged.select(
        F.col("vec_id").alias("vec_b"), "table_id", "bucket"
    )
    probes = tagged.select(
        F.col("vec_id").alias("vec_a"),
        "table_id",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(n_planes)
                ],
            )
        ).alias("bucket"),
    )

    cands = (
        probes.join(corpus, ["table_id", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    pair_cos = _pair_cosine_udf()
    scored = (
        cands.join(
            emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")),
            "vec_a",
        )
        .join(
            emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            F.round(pair_cos(F.col("ea"), F.col("eb")), 6).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= threshold)


def _hyperplanes(table: int, n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (t, p, d) derives
    from md5(f"{t}|{p}|{d}") — reproducible across sessions and engines, no
    RNG in the plan."""
    planes = []
    for p in range(n_planes):
        comps = []
        for d in range(dim):
            h = int(hashlib.md5(f"{table}|{p}|{d}".encode()).hexdigest()[:8], 16)
            comps.append(h / 2**32 - 0.5)
        planes.append(comps)
    return planes




def _lshx_signs(
    n_tables: int = 8, n_planes: int = 8, dim: int = 64
) -> list[list[list[int]]]:
    """Deterministic Rademacher (+-1) sign-LSH hyperplanes, [t][p][i] from
    the first md5 nibble of 'lshx:{t}:{p}:{i}' — the same content-free
    md5-randomness idiom as the JL matrix. INTEGER planes (unlike
    lsh_bucket_topk's float gaussians): the sign of an integer +-sum of
    milli-quantized coordinates is EXACT on any engine and evaluation
    order, which is what makes the bucketed candidate set — and hence
    the whole ANN query — DuckDB-oracle-able."""
    return [
        [
            [
                1
                if hashlib.md5(f"lshx:{t}:{p}:{i}".encode()).hexdigest()[0]
                in "01234567"
                else -1
                for i in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


LSHX_SIGNS = _lshx_signs()

# Element-magnitude bound for the exact-twin hygiene filters (ADVICE r13
# low): floor(inf * 1000).astype(int64) is undefined in numpy and int64
# squared-distance/ADC sums wrap silently once |x| passes ~2e5, while
# DuckDB raises on the BIGINT cast — a crash-vs-answer asymmetry. Rows
# with any |element| above this shared bound (which also catches +-Inf)
# are dropped IDENTICALLY on both engines; testdata embeddings are
# unit-scale, so only poison rows ever trip it. The literal `10000.0`
# in the oracle CTEs must equal this.
EMB_MAX_ABS = 10000.0

# Shared hyperparameters for the EXACT sign-LSH query: the Spark path
# (lsh_bucket_topk_exact) and the DuckDB oracle generator
# (registry/q02_textdedup._lshx_topk_oracle) both default from THIS dict
# (ADVICE r12 #2 — a default changed on one side only surfaced as a
# driver hash mismatch far from the cause; now it cannot drift).
LSHX_PARAMS = {
    "n_queries": 20,
    "k": 5,
    "n_tables": 8,
    "n_planes": 8,
    "dim": 64,
}


def lshx_sign_sum(t: int, p: int, elem_fmt: str, dim: int = 64) -> str:
    """Generated expression for the (t, p) sign sum:
    ``0 + q[1] - q[2] + ...`` — elem_fmt supplies the element accessor.
    Consumed by the DuckDB ORACLE only: the Spark plan computes the
    same sums in lsh_bucket_topk_exact's vectorized int64 Arrow matmul
    (an unrolled-SQL Spark path was abandoned — the self-joined 4k-node
    tree OOM'd a vanilla 1 GB driver at codegen). The cross-engine
    invariant is NOT shared text; it is that both sides consume the
    same LSHX_SIGNS literal matrix and that int64 addition is
    associative, so any summation order yields the identical sums."""
    return "0" + "".join(
        (" + " if LSHX_SIGNS[t][p][i] > 0 else " - ")
        + elem_fmt.format(i=i + 1)
        for i in range(dim)
    )


def lsh_bucket_topk_exact(
    embeddings: DataFrame,
    *,
    n_queries: int = LSHX_PARAMS["n_queries"],
    k: int = LSHX_PARAMS["k"],
    n_tables: int = LSHX_PARAMS["n_tables"],
    n_planes: int = LSHX_PARAMS["n_planes"],
    multiprobe: bool = True,
    dim: int = LSHX_PARAMS["dim"],
) -> DataFrame:
    """Sign-LSH ANN with an EXACTLY reproducible candidate set: buckets
    come from integer +-sums of milli-quantized coordinates against the
    LSHX_SIGNS Rademacher planes (whole-stage-codegen unrolled sums —
    the jl_projection idiom), so bucket membership is deterministic on
    any engine/partitioning; candidates then get the same rounded-exact
    cosine and (cosine DESC, neighbor_id) ranking as brute_force_topk.
    The approximation (which neighbors are candidates at all) is still
    sign-LSH — but it is a DETERMINISTIC approximation, so the full
    query is DuckDB-oracle-able end to end; recall vs the brute-force
    baseline is pinned separately in tests/test_similarity.py.

    Scale shape: candidate generation is one equi-join on
    (table_id, bucket) — no CartesianProduct; per-query candidate count
    ~ L · probes · corpus/2^P, tuned by (n_tables, n_planes)."""
    # NULL/ragged/element-poison hygiene (ADVICE r12 #1 + r13 review):
    # np.vstack in _buckets crashes on a NULL or ragged row, and a
    # full-length row with one NULL/NaN ELEMENT int-casts to an
    # undefined sentinel in the kernel while the oracle's list lambdas
    # silently skip it — filter identically on both sides (oracle twin:
    # the emb CTE's predicates in _lshx_topk_oracle).
    emb = (
        _as_double(embeddings)
        .select("vec_id", "embedding")
        .filter(
            F.col("embedding").isNotNull()
            & (F.size("embedding") == dim)
            & ~F.exists(
                F.col("embedding"),
                lambda x: x.isNull() | F.isnan(x) | (F.abs(x) > EMB_MAX_ABS),
            )
        )
    )
    # Exact integer buckets via ONE Arrow matmul, not unrolled SQL sums:
    # integer addition is associative, so numpy's int64 (q @ signs.T) is
    # bit-identical to the oracle's left-to-right +-term sums — unlike
    # the float-plane kernel, where summation order could flip a
    # near-zero sign. (A first attempt unrolled the 64x64 sums as
    # selectExpr text, jl-style; 4k expression nodes fed a self-join and
    # the inlined tree OOM'd the vanilla 1 GB driver at codegen — the
    # vectorized exact kernel is both safer and faster.)
    mat = (
        np.array(LSHX_SIGNS, dtype=np.int64)
        .reshape(n_tables * n_planes, dim)
        .T
    )  # (dim, T·P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def _buckets(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(e.to_numpy())  # (n, dim) float64
        q = np.floor(x * 1000.0).astype(np.int64)  # == SQL floor(x*1000)
        bits = (q @ mat) > 0  # exact int64 sums, strict > 0
        b = bits.reshape(len(q), n_tables, n_planes) @ weights
        return pd.Series(list(b.astype(np.int64)))

    base = _fan_out(emb).withColumn("buckets", _buckets(F.col("embedding")))
    corpus = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.posexplode("buckets").alias("table_id", "bucket"),
    )
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.posexplode("buckets").alias("table_id", "q_bucket"),
    )
    probe_cols = [F.col("q_bucket")]
    if multiprobe:
        probe_cols += [
            F.col("q_bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
    probed = queries.select(
        "query_id",
        "q_emb",
        "table_id",
        F.explode(F.array(*probe_cols)).alias("bucket"),
    )
    cands = (
        probed.join(corpus, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "q_emb", "neighbor_id", "c_emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine_sim(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", "cosine",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def lsh_bucket_topk(
    embeddings: DataFrame,
    *,
    n_queries: int = 20,
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 8,
    multiprobe: bool = True,
    dim: int = 64,
) -> DataFrame:
    """Multi-table sign-LSH ANN: L independent tables of P sign bits each;
    a corpus vector is a candidate when it shares a (possibly hamming-1
    multiprobed) bucket with the query in ANY table; candidates get exact
    cosine, top-k per query.

    Scale shape: corpus bucket ids are computed in one narrow map (L
    expressions over one scan), candidate generation is an equi-join on
    (table_id, bucket) — the all-pairs crossJoin never materializes. Recall
    tunes with (n_tables, n_planes, multiprobe); the candidate count per
    query stays ~L · probe_count · corpus/2^P.

    Approximate — compare against brute_force_topk for recall
    (tests/test_similarity.py)."""
    emb = _as_double(embeddings).select("vec_id", "embedding")
    bucket_udf = _lsh_buckets_udf(n_tables, n_planes, dim)
    base = _fan_out(emb).withColumn("buckets", bucket_udf(F.col("embedding")))

    corpus = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.posexplode("buckets").alias("table_id", "bucket"),
    )

    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.posexplode("buckets").alias("table_id", "q_bucket"),
    )

    probe_cols = [F.col("q_bucket")]
    if multiprobe:
        probe_cols += [
            F.col("q_bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
    probed = queries.select(
        "query_id",
        "q_emb",
        "table_id",
        F.explode(F.array(*probe_cols)).alias("bucket"),
    )
    cands = (
        probed.join(corpus, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "q_emb", "neighbor_id", "c_emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine_sim(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rnk").cast("int").alias("rnk"))
    )


def ivf_topk(
    embeddings: DataFrame,
    *,
    n_queries: int = 20,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN entry point: ``build_ivf_index`` + ``ivf_search`` with the
    first ``n_queries`` corpus vectors as the query set. See those two for
    the semantics; the split exists because at 100 TB an index build is a
    write-once artifact, not a per-query step (VERDICT r4, What's wrong
    #2) — production callers build once, persist ``index.corpus`` (the
    cell column IS the index), and search many times."""
    emb = _as_double(embeddings).select("vec_id", "embedding")
    index = build_ivf_index(emb, n_centroids=n_centroids, seed=seed)
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return ivf_search(index, queries, k=k, n_probe=n_probe, exclude_self=True)


class IvfIndex:
    """Reusable IVF index artifact: the cell-assigned corpus (persist this
    at production scale — the ``cell`` column is the index) and the
    bounded centroid relation (broadcast at search time)."""

    def __init__(self, corpus: DataFrame, centroids: DataFrame):
        self.corpus = corpus  # (neighbor_id, c_emb, cell)
        self.centroids = centroids  # (cell, center) — driver-bounded

    def save(self, path: str) -> None:
        """Persist as two parquet relations (corpus/, centroids/) — the
        write-once form a production pipeline stores; at 100 TB write
        ``corpus`` partitioned/clustered BY the cell column so a probe
        reads only its n_probe cells' files."""
        self.corpus.write.mode("overwrite").parquet(f"{path}/corpus")
        self.centroids.write.mode("overwrite").parquet(f"{path}/centroids")

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        return cls(
            spark.read.parquet(f"{path}/corpus"),
            spark.read.parquet(f"{path}/centroids"),
        )


def build_ivf_index(
    embeddings: DataFrame, *, n_centroids: int = 16, seed: int = 42
) -> IvfIndex:
    """IVF index build (write-once): seeded KMeans partitions the corpus
    into ``n_centroids`` cells; each vector stores its cell id (one narrow
    transform after the fit). The centroid list is bounded driver-side
    data and becomes a LocalRelation — DATA, not plan literals, so search
    plan size is O(1) in n_centroids (pinned in tests/test_plans.py).
    The ONLY KMeans.fit in the IVF family lives here — never in search."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = _as_double(embeddings).select("vec_id", "embedding")
    with_vec = emb.withColumn("__vec", array_to_vector("embedding"))
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="__vec", predictionCol="__cell"
    ).fit(with_vec)

    corpus = model.transform(with_vec).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("__cell").alias("cell"),
    )
    spark = embeddings.sparkSession
    centroids = spark.createDataFrame(
        [
            (cid, [float(x) for x in center])
            for cid, center in enumerate(model.clusterCenters())
        ],
        schema="cell int, center array<double>",
    )
    return IvfIndex(corpus, centroids)


def ivf_search(
    index: IvfIndex,
    queries: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 4,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF search over a prebuilt index. ``queries``: (query_id, q_emb).
    Each query broadcast-joins the centroid relation, computes L2 with JVM
    expressions, keeps its ``n_probe`` nearest cells via a row_number
    window, and candidates come from an equi-join on cell id — the corpus
    is never all-pairs joined. Exact cosine re-ranks; top-k per query.
    Probing touches n_probe/n_centroids of the data. ``exclude_self``
    (opt-in; the self-query *_topk wrappers set it) drops candidates
    whose vec_id equals the query_id — wrong as a default for external
    query sets (ADVICE r5). No model fitting happens here (pinned in
    tests/test_similarity.py)."""
    dist2 = F.aggregate(
        F.zip_with(F.col("q_emb"), F.col("center"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cw = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col("cell").asc()
    )
    probed = (
        queries.crossJoin(F.broadcast(index.centroids))
        .select("query_id", "q_emb", "cell", dist2.alias("dist2"))
        .withColumn("__cr", F.row_number().over(cw))
        .filter(F.col("__cr") <= n_probe)
        .select("query_id", "q_emb", "cell")
    )
    scored = probed.join(index.corpus, "cell")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.select(
        "query_id",
        "neighbor_id",
        cosine_sim(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", "cosine", F.col("rnk").cast("int").alias("rnk")
        )
    )


def _pq_train_codebooks(x, m: int, ksub: int, n_iter: int, seed: int):
    """Seeded Lloyd's KMeans per subspace over the driver-bounded training
    sample (numpy only). Returns (m, ksub, d_sub) codebook array."""
    import numpy as np

    n, dim = x.shape
    d_sub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, ksub, d_sub))
    for j in range(m):
        xj = x[:, j * d_sub : (j + 1) * d_sub]
        cent = xj[rng.choice(n, size=ksub, replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((xj[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cent[c] = xj[mask].mean(axis=0)
        books[j] = cent
    return books


def pq_topk(
    embeddings: DataFrame,
    *,
    n_queries: int = 20,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 8,
    train_sample: int = 2048,
    rerank_factor: int = 4,
    seed: int = 7,
) -> DataFrame:
    """PQ ANN entry point: ``build_pq_index`` + ``pq_search`` with the
    first ``n_queries`` corpus vectors as the query set. Split because at
    100 TB codebook training + corpus encoding is a write-once artifact
    (VERDICT r4): build once, persist ``index.coded`` (the compressed
    corpus), search many times."""
    emb = _as_double(embeddings).select("vec_id", "embedding")
    index = build_pq_index(
        emb, m=m, ksub=ksub, n_iter=n_iter, train_sample=train_sample, seed=seed
    )
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return pq_search(
        index, queries, k=k, rerank_factor=rerank_factor, exclude_self=True
    )


class PqIndex:
    """Reusable PQ index artifact (Jégou et al., TPAMI 2011 — public
    method, independently implemented): per-subspace codebooks (bounded,
    broadcast at search) plus the CODED corpus — the corpus column shrunk
    from dim x 8 bytes to m small ints (64 -> 8 bytes/vector here), which
    is the entire point at 100 TB: the scan that serves queries reads
    1.5% of the raw bytes. Persist ``coded`` (and keep ``emb`` reachable
    for the exact re-rank join) at production scale."""

    def __init__(self, books, coded: DataFrame, emb: DataFrame, m: int, ksub: int):
        self.books = books  # (m, ksub, d_sub) ndarray
        self.coded = coded  # (vec_id, codes array<int>)
        self.emb = emb  # raw (vec_id, embedding) for exact re-rank
        self.m = m
        self.ksub = ksub
        self.d_sub = books.shape[2]

    def save(self, path: str) -> None:
        """Persist the compressed corpus (parquet — THE serving scan) and
        the bounded codebooks as one flattened relation
        (subspace, centroid, component, value): everything survives as
        plain columnar data, no pickle/npz sidecars."""
        self.coded.write.mode("overwrite").parquet(f"{path}/coded")
        self.emb.write.mode("overwrite").parquet(f"{path}/emb")
        spark = self.coded.sparkSession
        rows = [
            (j, c, d, float(self.books[j, c, d]))
            for j in range(self.m)
            for c in range(self.ksub)
            for d in range(self.d_sub)
        ]
        spark.createDataFrame(
            rows, "subspace int, centroid int, component int, value double"
        ).write.mode("overwrite").parquet(f"{path}/books")

    @classmethod
    def load(cls, spark, path: str) -> "PqIndex":
        import numpy as np

        brows = spark.read.parquet(f"{path}/books").collect()
        m = max(r.subspace for r in brows) + 1
        ksub = max(r.centroid for r in brows) + 1
        d_sub = max(r.component for r in brows) + 1
        books = np.zeros((m, ksub, d_sub))
        for r in brows:
            books[r.subspace, r.centroid, r.component] = r.value
        return cls(
            books,
            spark.read.parquet(f"{path}/coded"),
            spark.read.parquet(f"{path}/emb"),
            m,
            ksub,
        )


def build_pq_index(
    embeddings: DataFrame,
    *,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 8,
    train_sample: int = 2048,
    seed: int = 7,
) -> PqIndex:
    """PQ index build (write-once):

    1. *Train* (driver-bounded): a deterministic ~``train_sample``-vector
       sample is collected (bounded bytes, like the IVF centroid list)
       and per-subspace seeded Lloyd's KMeans learns ``m``x``ksub``
       codebooks. The ONLY codebook training in the PQ family lives
       here — never in search.
    2. *Encode* (distributed): codebooks broadcast; an Arrow kernel
       argmins each vector's m subvectors into the coded corpus.
    """
    import numpy as np

    emb = _as_double(embeddings).select("vec_id", "embedding")
    n_total = emb.count()
    stride = max(1, n_total // train_sample)
    sample_rows = (
        emb.filter(F.pmod("vec_id", F.lit(stride)) == 0)
        .orderBy("vec_id")
        .limit(train_sample)
        .collect()
    )
    x = np.array([r.embedding for r in sample_rows])
    books = _pq_train_codebooks(x, m, ksub, n_iter, seed)
    d_sub = x.shape[1] // m

    spark = emb.sparkSession
    bc_books = spark.sparkContext.broadcast(books)

    def _encode(batches):
        import numpy as _np

        bk = bc_books.value
        for pdf in batches:
            mat = _np.array(list(pdf["embedding"]))
            codes = _np.empty((len(pdf), m), dtype=_np.int32)
            for j in range(m):
                xj = mat[:, j * d_sub : (j + 1) * d_sub]
                d2 = ((xj[:, None, :] - bk[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    coded = _fan_out(emb).mapInPandas(
        _encode, schema="vec_id long, codes array<int>"
    )
    return PqIndex(books, coded, emb, m, ksub)


def _adc_tables_kernel(bc_books, m: int, ksub: int, d_sub: int):
    """mapInPandas kernel: (query_id, q_emb) → (query_id, adc) where
    ``adc`` is the flattened m x ksub asymmetric-distance table — the
    exact squared distance from each query subvector to each codebook
    centroid. Runs ON THE EXECUTORS from the broadcast codebooks, so the
    query frame is never driver-bounded (VERDICT r5, What's wrong #4)."""

    def _adc(batches):
        import numpy as _np

        bk = bc_books.value  # (m, ksub, d_sub)
        for pdf in batches:
            if pdf.empty:
                continue
            qm = _np.array(list(pdf["q_emb"]))
            tabs = _np.empty((len(pdf), m, ksub))
            for j in range(m):
                qj = qm[:, j * d_sub : (j + 1) * d_sub]
                tabs[:, j, :] = ((qj[:, None, :] - bk[j][None, :, :]) ** 2).sum(
                    axis=2
                )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "adc": list(tabs.reshape(len(pdf), m * ksub)),
                }
            )

    return _adc


def _adc_cogroup_scan(m: int, ksub: int, keep: int, exclude_self: bool):
    """Cogrouped applyInPandas kernel shared by pq_search/ivfpq_search:
    left = a coded-corpus group (vec_id, codes, ...), right = the queries
    probing it (query_id, adc, ...). Scores every (query, vector) pair by
    m table lookups (vectorized gather), keeps each query's local
    ``keep`` best with a deterministic (dist, neighbor_id) tie-break, and
    never materializes the full q x n matrix beyond a bounded query
    chunk."""

    def _scan(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as _np

        if cpdf.empty or qpdf.empty:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "adc_dist": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "adc_dist": "float64"})
        codes = _np.array(list(cpdf["codes"]))  # (n, m)
        nid = cpdf["vec_id"].to_numpy()
        qid = qpdf["query_id"].to_numpy()
        tabs = _np.array(list(qpdf["adc"])).reshape(len(qpdf), m, ksub)
        out_q, out_n, out_d = [], [], []
        for s in range(0, len(qid), 1024):  # bound the distance matrix
            qchunk = slice(s, s + 1024)
            dist = _np.zeros((len(qid[qchunk]), len(nid)))
            for j in range(m):
                dist += tabs[qchunk, j, :][:, codes[:, j]]
            for i, q in enumerate(qid[qchunk]):
                d, nn = dist[i], nid
                if exclude_self:
                    mask = nn != q
                    d, nn = d[mask], nn[mask]
                top = _np.lexsort((nn, d))[:keep]
                out_q.extend([int(q)] * len(top))
                out_n.extend(int(v) for v in nn[top])
                out_d.extend(float(v) for v in d[top])
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n, "adc_dist": out_d}
        )

    return _scan


def _shortlist_topk(cands: DataFrame, keep: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return cands.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= keep
    )


def pq_search(
    index: PqIndex,
    queries: DataFrame,
    *,
    k: int = 5,
    rerank_factor: int = 4,
    exclude_self: bool = False,
    n_buckets: int | None = None,
) -> DataFrame:
    """PQ search over a prebuilt index — fully distributed, the query
    frame is NEVER collected (VERDICT r5, What's wrong #4):

    1. An executor kernel computes each query's ADC table (m x ksub
       exact query-to-centroid distances) from the broadcast codebooks.
    2. The coded corpus hashes into ``n_buckets`` groups; queries
       replicate across them (exhaustive PQ scan is inherently
       every-query-sees-every-vector — the replication IS the scan; the
       bounded alternative is ivfpq_search's cell-keyed probe).
    3. A cogrouped kernel scores each (corpus bucket x query) block by m
       table lookups and emits only the local ``k * rerank_factor`` best
       per query — the shuffle after it carries shortlists, not scans.
    4. A global top-``keep`` window + exact cosine re-rank.

    ``exclude_self`` (opt-in; the self-query *_topk wrappers set it)
    drops candidates whose vec_id equals the query_id — wrong as a
    default for external query sets, where an id coincidence would
    silently lose a valid neighbor (ADVICE r5). No codebook training
    happens here. Approximate: recall vs brute_force_topk is pinned in
    tests/test_similarity.py."""
    m, ksub, d_sub = index.m, index.ksub, index.d_sub
    spark = index.coded.sparkSession
    bc_books = spark.sparkContext.broadcast(index.books)
    keep = k * rerank_factor
    nb = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))

    q_tabs = queries.select("query_id", "q_emb").mapInPandas(
        _adc_tables_kernel(bc_books, m, ksub, d_sub),
        schema="query_id long, adc array<double>",
    )
    corpus_b = index.coded.withColumn(
        "bucket", F.pmod(F.hash("vec_id"), F.lit(nb))
    )
    q_rep = q_tabs.withColumn(
        "bucket", F.explode(F.sequence(F.lit(0), F.lit(nb - 1)))
    )
    cands = (
        corpus_b.groupBy("bucket")
        .cogroup(q_rep.groupBy("bucket"))
        .applyInPandas(
            _adc_cogroup_scan(m, ksub, keep, exclude_self),
            schema="query_id long, neighbor_id long, adc_dist double",
        )
    )
    return _exact_rerank(
        _shortlist_topk(cands, keep), index.emb, k, queries=queries
    )


def _exact_rerank(
    shortlist: DataFrame,
    emb: DataFrame,
    k: int,
    *,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Join raw embeddings back onto an ANN candidate shortlist and keep
    the exact-cosine top-k per query (the shared tail of the PQ paths).
    ``queries`` supplies q_emb for external query sets (ids need not
    exist in the corpus); omitted, the legacy self-query shape resolves
    q_emb from the corpus itself."""
    q_src = (
        queries.select("query_id", "q_emb")
        if queries is not None
        else emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
    )
    rer = (
        shortlist.join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("c_emb"),
            ),
            "neighbor_id",
        )
        .join(q_src, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def ivfpq_topk(
    embeddings: DataFrame,
    *,
    n_queries: int = 20,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 8,
    train_sample: int = 2048,
    rerank_factor: int = 4,
    seed: int = 7,
) -> DataFrame:
    """IVF-PQ entry point: ``build_ivfpq_index`` + ``ivfpq_search`` with
    the first ``n_queries`` corpus vectors as the query set. Split because
    the KMeans cells + residual PQ codes are a write-once distributed
    index (VERDICT r4): build once, persist ``index.coded``, search many
    times."""
    emb = _as_double(embeddings).select("vec_id", "embedding")
    index = build_ivfpq_index(
        emb,
        n_centroids=n_centroids,
        m=m,
        ksub=ksub,
        n_iter=n_iter,
        train_sample=train_sample,
        seed=seed,
    )
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return ivfpq_search(
        index,
        queries,
        k=k,
        n_probe=n_probe,
        rerank_factor=rerank_factor,
        exclude_self=True,
    )


class IvfPqIndex:
    """Reusable IVF-PQ index artifact — the classic billion-scale
    composition (Jégou et al., TPAMI 2011): the IVF coarse quantizer
    restricts WHICH vectors a query scans, residual PQ codes decide how
    cheaply each scanned vector is scored. Persist ``coded`` (vec_id,
    cell, codes) at production scale; centers/books are bounded."""

    def __init__(self, centers, books, coded: DataFrame, emb: DataFrame, m, ksub):
        self.centers = centers  # (n_centroids, dim) ndarray
        self.books = books  # (m, ksub, d_sub) residual codebooks
        self.coded = coded  # (vec_id, cell, codes)
        self.emb = emb  # raw (vec_id, embedding) for exact re-rank
        self.m = m
        self.ksub = ksub
        self.d_sub = books.shape[2]


def build_ivfpq_index(
    embeddings: DataFrame,
    *,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 8,
    train_sample: int = 2048,
    seed: int = 7,
) -> IvfPqIndex:
    """IVF-PQ index build (write-once): seeded KMeans partitions the
    corpus into cells; a driver-bounded sample of RESIDUALS (vector minus
    its cell centroid) trains the per-subspace codebooks; one narrow
    encode kernel under broadcast (codebooks, centers) writes the coded
    corpus. All model fitting in the IVF-PQ family lives here."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = _as_double(embeddings).select("vec_id", "embedding")
    with_vec = emb.withColumn("__vec", array_to_vector("embedding"))
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="__vec", predictionCol="__cell"
    ).fit(with_vec)
    centers = np.array([np.asarray(c) for c in model.clusterCenters()])
    assigned = model.transform(with_vec).select(
        "vec_id", "embedding", F.col("__cell").alias("cell")
    )

    spark = emb.sparkSession
    n_total = emb.count()
    stride = max(1, n_total // train_sample)
    sample_rows = (
        assigned.filter(F.pmod("vec_id", F.lit(stride)) == 0)
        .orderBy("vec_id")
        .limit(train_sample)
        .collect()
    )
    resid = np.array(
        [np.array(r.embedding) - centers[r.cell] for r in sample_rows]
    )
    books = _pq_train_codebooks(resid, m, ksub, n_iter, seed)
    dim = centers.shape[1]
    d_sub = dim // m
    bc = spark.sparkContext.broadcast((books, centers))

    def _encode(batches):
        import numpy as _np

        bk, cent = bc.value
        for pdf in batches:
            mat = _np.array(list(pdf["embedding"]))
            res = mat - cent[pdf["cell"].to_numpy()]
            codes = _np.empty((len(pdf), m), dtype=_np.int32)
            for j in range(m):
                xj = res[:, j * d_sub : (j + 1) * d_sub]
                d2 = ((xj[:, None, :] - bk[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": pdf["cell"],
                    "codes": list(codes),
                }
            )

    coded = _fan_out(assigned).mapInPandas(
        _encode, schema="vec_id long, cell int, codes array<int>"
    )
    return IvfPqIndex(centers, books, coded, emb, m, ksub)


def ivfpq_search(
    index: IvfPqIndex,
    queries: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 4,
    rerank_factor: int = 4,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-PQ search over a prebuilt index — fully distributed, the
    query frame is NEVER collected (VERDICT r5, What's wrong #4): an
    executor kernel assigns each query its ``n_probe`` nearest cells and
    computes the per-cell RESIDUAL ADC table from the broadcast
    (centers, books); the probe frame then cogroups with the coded
    corpus ON THE CELL KEY — each query's scan touches only its probed
    cells' groups, which is the entire IVF point — and the shared scan
    kernel emits local shortlists. Global top-keep + exact cosine
    re-rank. ``exclude_self`` is opt-in as in pq_search (ADVICE r5).
    No model fitting happens here. Approximate — recall vs brute force
    pinned in tests."""
    m, ksub, d_sub = index.m, index.ksub, index.d_sub
    spark = index.coded.sparkSession
    bc = spark.sparkContext.broadcast((index.centers, index.books))
    keep = k * rerank_factor

    def _probe(batches):
        import numpy as _np

        centers, books = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            qm = _np.array(list(pdf["q_emb"]))
            qid = pdf["query_id"].to_numpy()
            cd = ((qm[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            near = _np.argsort(cd, axis=1, kind="stable")[:, :n_probe]
            out_q, out_c, out_t = [], [], []
            for i in range(len(qid)):
                for cell in near[i]:
                    qr = qm[i] - centers[cell]
                    table = _np.empty((m, ksub))
                    for j in range(m):
                        qj = qr[j * d_sub : (j + 1) * d_sub]
                        table[j] = ((books[j] - qj[None, :]) ** 2).sum(axis=1)
                    out_q.append(int(qid[i]))
                    out_c.append(int(cell))
                    out_t.append(table.reshape(m * ksub))
            yield pd.DataFrame(
                {"query_id": out_q, "cell": out_c, "adc": out_t}
            )

    q_probe = queries.select("query_id", "q_emb").mapInPandas(
        _probe, schema="query_id long, cell int, adc array<double>"
    )
    cands = (
        index.coded.groupBy("cell")
        .cogroup(q_probe.groupBy("cell"))
        .applyInPandas(
            _adc_cogroup_scan(m, ksub, keep, exclude_self),
            schema="query_id long, neighbor_id long, adc_dist double",
        )
    )
    return _exact_rerank(
        _shortlist_topk(cands, keep), index.emb, k, queries=queries
    )


def scale_features(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Per-dimension feature standardization ((x - mean) / sd) — the
    whitening step before distance-based ops (ANN, clustering, dedup)
    treat every dimension equally. Moments accumulate per dimension in
    exact DECIMAL (order-free on any engine, the zscore_outliers
    discipline), mean/sd derive through one fixed double expression,
    and zero-variance dimensions are dropped by the sd > 0 guard rather
    than emitting NaN.

    Shape: one posexplode scan feeds the dim-sized moment table
    (map-side combined; dim rows total), which broadcast-joins back
    onto the components — the corpus shuffles once on the exploded
    (row, dim) key and the stats side is bounded by the embedding
    width at any corpus size. Output is the exploded
    (id, dim_pos, scaled) form: scalar columns, exactly what the
    cross-engine hash check can pin."""
    dec = "decimal(18,9)"
    comp = embeddings.select(
        id_col,
        F.posexplode(F.col(emb_col).cast("array<double>")).alias(
            "dim_pos", "x"
        ),
    )
    v = F.col("x").cast(dec)
    stats = (
        comp.groupBy("dim_pos")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(v).alias("__s"),
            F.sum(v * v).alias("__ss"),
        )
        .withColumn("__mean", F.col("__s").cast("double") / F.col("__n"))
        .withColumn(
            "__sd",
            F.sqrt(
                F.col("__ss").cast("double") / F.col("__n")
                - F.col("__mean") * F.col("__mean")
            ),
        )
        .filter(F.col("__sd") > 0)
        .select("dim_pos", "__mean", "__sd")
    )
    return comp.join(F.broadcast(stats), "dim_pos").select(
        id_col,
        "dim_pos",
        F.round((F.col("x") - F.col("__mean")) / F.col("__sd"), 6).alias(
            "scaled"
        ),
    )


def pca_project(
    embeddings: DataFrame,
    *,
    n_components: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """PCA projection of the embedding column onto its top
    ``n_components`` principal directions — the dimensionality-reduction
    front end for cheaper ANN/clustering at 100 TB.

    Scale shape: the covariance matrix accumulates DISTRIBUTED in one
    mapInPandas pass — each partition emits a single (count, sum,
    sum-of-outer-products) row, dim + dim^2 doubles, so the driver
    collects O(partitions) bounded sketch rows (the codebook-artifact
    discipline), never data. Eigendecomposition is a driver-side
    dim x dim numpy eigh; the component matrix broadcasts back as plan
    LITERALS into a pure-JVM zip_with/aggregate projection — the big
    scan stays in codegen, no Python on the serving path. Sign
    convention: each component's largest-|weight| entry is positive, so
    the basis is deterministic for a given covariance.

    Approximate/model-backed by nature (no cross-engine SQL oracle):
    the orthonormality, variance-ordering, and reconstruction
    self-checks live in tests/test_similarity.py."""
    import numpy as np

    emb = embeddings.select(
        id_col, F.col(emb_col).cast("array<double>").alias("e")
    )
    dim = emb.select(F.size("e")).first()[0]

    def _partials(batches):
        import numpy as _np

        n, s, o = 0, _np.zeros(dim), _np.zeros((dim, dim))
        for pdf in batches:
            if not len(pdf):
                continue
            x = _np.array(list(pdf["e"]))
            n += len(x)
            s += x.sum(axis=0)
            o += x.T @ x
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "s": [s.tolist()],
                    "o": [o.reshape(dim * dim).tolist()],
                }
            )

    parts = emb.mapInPandas(
        _partials, schema="n long, s array<double>, o array<double>"
    ).collect()  # bounded: one sketch row per partition
    n_total = sum(p.n for p in parts)
    s_total = np.sum([np.array(p.s) for p in parts], axis=0)
    o_total = np.sum(
        [np.array(p.o).reshape(dim, dim) for p in parts], axis=0
    )
    mean = s_total / n_total
    cov = o_total / n_total - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:n_components]
    w = eigvecs[:, order]  # (dim, q)
    for k in range(w.shape[1]):
        if w[np.abs(w[:, k]).argmax(), k] < 0:
            w[:, k] = -w[:, k]

    mean_lit = F.array(*[F.lit(float(v)) for v in mean])
    centered = F.zip_with(F.col("e"), mean_lit, lambda a, b: a - b)
    proj_cols = []
    for k in range(w.shape[1]):
        wk = F.array(*[F.lit(float(v)) for v in w[:, k]])
        proj_cols.append(
            F.round(
                F.aggregate(
                    F.zip_with(centered, wk, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias(f"pc{k}")
        )
    return emb.select(id_col, *proj_cols)


def assign_ivf_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Fit-free IVF cell assignment: each vector broadcast-joins the
    bounded centroid relation, computes exact squared L2 JVM-side, and
    keeps its argmin cell with a deterministic (dist, cell) tie-break —
    the same expression shape ivf_search probes with, usable on batch
    AND streaming frames (no model object, no fitting)."""
    e = F.col(emb_col).cast("array<double>")
    dist2 = F.aggregate(
        F.zip_with(e, F.col("center"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__d2").asc(), F.col("cell").asc()
    )
    return (
        vectors.crossJoin(F.broadcast(centroids))
        .select(
            F.col(id_col),
            e.alias("__e"),
            "cell",
            dist2.alias("__d2"),
        )
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("__e").alias("c_emb"),
            "cell",
        )
    )


def ivf_ingest_stream(
    stream_df: DataFrame,
    index: IvfIndex,
    corpus_dir: str,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    timeout_sec: int = 300,
) -> None:
    """Continuous IVF index maintenance — the write-once index becomes
    APPEND-ONLY: each micro-batch of new vectors assigns cells fit-free
    from the built index's centroid relation (assign_ivf_cells — the
    centroids never refit on the serving path) and lands as a
    batch-id-keyed parquet segment, so redelivered batches overwrite
    their own segment instead of duplicating rows (the Mongo-sink
    idempotence discipline). ``spark.read.parquet(corpus_dir)`` then IS
    the ``IvfIndex.corpus`` relation: searches run against the union of
    everything ingested so far, and at production scale segments
    compact by cell exactly like the batch-built index's layout."""
    cents = index.centroids

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        assign_ivf_cells(
            batch_df, cents, id_col=id_col, emb_col=emb_col
        ).write.mode("overwrite").parquet(f"{corpus_dir}/batch={batch_id}")

    q = (
        stream_df.writeStream.foreachBatch(_write)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"IVF ingest did not drain within {timeout_sec}s")


def cluster_quality(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
    quant: int = 10**9,
) -> DataFrame:
    """Per-label cluster cohesion/separation report for a labeled
    embedding table: member count, mean squared distance to the label's
    own centroid (cohesion), the nearest OTHER centroid and its
    squared distance (separation) — the Davies-Bouldin-style health
    check a training pipeline runs on its class structure.

    Exactness: centroids come from exact DECIMAL(18,9) per-dimension
    sums (order-free) divided once into double; every squared deviation
    is then QUANTIZED to integer nano-units (floor((x-c)^2 * 1e9)) so
    the cross-row/cross-dimension summations are order-independent
    BIGINT adds — the metric is DEFINED on the quantized deviations,
    identical on any engine at any partitioning. Per-vector distances
    never materialize: sum-over-members-of-sum-over-dims collapses to
    one groupBy(label) over the exploded (row, dim) frame.

    Scale shape: posexplode (narrow, x dim fan-out), ONE shuffle to
    (label, dim) partials, centroid table (|labels| x dims) broadcast
    back; centroid-to-centroid separation runs on the bounded centroid
    frame. BIGINT bound: quant * dims * n_members per label — lift
    quant down or sums to DECIMAL(38,0) past ~1e9 rows."""
    comp = embeddings.select(
        id_col,
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(emb_col).cast("array<double>")).alias("dim", "x"),
    )
    cent = (
        comp.groupBy("lbl", "dim")
        .agg(
            F.sum(F.col("x").cast("decimal(18,9)")).alias("sm"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "lbl",
            "dim",
            (F.col("sm").cast("double") / F.col("n")).alias("c"),
        )
    )
    dev = comp.join(F.broadcast(cent), ["lbl", "dim"]).select(
        "lbl",
        F.floor(
            (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * quant
        ).cast("long").alias("q"),
    )
    intra = dev.groupBy("lbl").agg(
        F.sum("q").alias("qsum"), F.count(F.lit(1)).alias("ncells")
    )
    # ncells = n_members * dims; recover n_members via the dims count
    dims = cent.groupBy("lbl").agg(F.count(F.lit(1)).alias("ndims"))
    intra = intra.join(F.broadcast(dims), "lbl").select(
        "lbl",
        F.expr("ncells div ndims").alias("n_members"),
        F.expr("qsum div (ncells div ndims)").alias("intra_mean_nano"),
    )
    c2 = cent.select(
        F.col("lbl").alias("lbl2"), F.col("dim").alias("dim2"),
        F.col("c").alias("c2"),
    )
    sep = (
        cent.join(
            F.broadcast(c2),
            (F.col("dim") == F.col("dim2")) & (F.col("lbl") != F.col("lbl2")),
        )
        .select(
            "lbl",
            "lbl2",
            F.floor(
                (F.col("c") - F.col("c2")) * (F.col("c") - F.col("c2")) * quant
            ).cast("long").alias("q"),
        )
        .groupBy("lbl", "lbl2")
        .agg(F.sum("q").alias("dist_nano"))
    )
    w = Window.partitionBy("lbl").orderBy(
        F.col("dist_nano").asc(), F.col("lbl2").asc()
    )
    nearest = (
        sep.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "lbl",
            F.col("lbl2").alias("nearest_lbl"),
            F.col("dist_nano").alias("nearest_dist_nano"),
        )
    )
    return intra.join(nearest, "lbl").select(
        F.col("lbl").cast("double").alias("label_d"),
        F.col("n_members").cast("double").alias("n_d"),
        F.col("intra_mean_nano").cast("double").alias("intra_mean_nano_d"),
        F.col("nearest_lbl").cast("double").alias("nearest_label_d"),
        F.col("nearest_dist_nano").cast("double").alias("nearest_dist_nano_d"),
    )


# Candidate count below which mmr_diverse_topk runs its greedy picks in
# one Arrow task (pure-Python integer dot products: O(cand_n * k * dim)).
MMR_SINGLE_TASK_MAX_ROWS = 10_000


def _mmr_single_task_kernel(k: int):
    """Greedy MMR over ONE bounded candidate batch — the single-task
    fast path of mmr_diverse_topk (r14, guide §4.2: the per-pick
    distributed loop costs k-1 checkpoint jobs on a ``cand_n``-row
    frame; the whole greedy selection is exact integer arithmetic, so
    one Arrow task replays it bit-for-bit: Python ints ARE the BIGINTs
    the Spark loop and the unrolled oracle compute)."""

    def kern(batches):
        import pandas as pd

        rows = []
        for pdf in batches:
            for vid, q, rel in zip(
                pdf["vec_id"].tolist(), pdf["q"], pdf["rel"].tolist()
            ):
                rows.append((int(vid), [int(x) for x in q], int(rel)))
        if not rows:
            return
        # pick 1: max relevance, ties to the smaller vec_id
        rows.sort(key=lambda r: (-r[2], r[0]))
        picked = [rows[0]]
        out = [(1, rows[0][0], rows[0][2], rows[0][2])]
        remaining = rows[1:]
        for t in range(2, k + 1):
            if not remaining:
                break
            best = None
            for vid, q, rel in remaining:
                pen = max(
                    sum(a * b for a, b in zip(q, pq)) for _, pq, _ in picked
                )
                score = rel - pen
                if best is None or (-score, vid) < (-best[3], best[0]):
                    best = (vid, q, rel, score)
            picked.append((best[0], best[1], best[2]))
            out.append((t, best[0], best[2], best[3]))
            remaining = [r for r in remaining if r[0] != best[0]]
        yield pd.DataFrame(
            out, columns=["pick_order", "vec_id", "rel", "score"]
        )

    return kern


def mmr_diverse_topk(
    embeddings: DataFrame,
    *,
    query_id: int = 0,
    cand_n: int = 20,
    k: int = 8,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) — the diversity stage between candidate retrieval and
    the context window: greedily pick k of the top-``cand_n`` semantic
    candidates, each pick maximizing relevance MINUS its worst
    redundancy against the already-picked set (lambda = 1/2, scaled by
    2 so the objective is rel - max_sim — pure integers).

    Engine-exactness: vectors are GLOBALLY-scaled int8 codes (one
    corpus-wide scale broadcast from a 1-row aggregate, the
    jl_projection discipline), so relevance and pairwise redundancy
    are BIGINT dot products and every greedy argmax (ties: smaller
    vec_id) is bit-deterministic. The DuckDB oracle unrolls the greedy
    loop relationally and replays the identical integers.

    Scale shape: candidate generation is a corpus-wide narrow dot
    product cut with orderBy().limit(cand_n) (TakeOrderedAndProject);
    the greedy loop then runs on a localCheckpointed ``cand_n``-row
    frame — k-1 iterations of (cand_n x picked) joins on bounded
    frames, never touching the corpus again."""
    gs = embeddings.agg(
        (
            F.max(
                F.array_max(
                    F.transform(
                        F.col("embedding"), lambda x: F.abs(x.cast("double"))
                    )
                )
            )
            / F.lit(127)
        ).alias("gscale")
    )
    q8 = embeddings.crossJoin(F.broadcast(gs)).select(
        "vec_id",
        F.when(
            F.col("gscale") == 0,
            F.transform(F.col("embedding"), lambda x: F.lit(0).cast("long")),
        )
        .otherwise(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(
                    x.cast("double") / F.col("gscale") + F.lit(0.5)
                ).cast("long"),
            )
        )
        .alias("q"),
    )
    qv = q8.where(F.col("vec_id") == query_id).select(
        F.col("q").alias("qq")
    )
    dot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    rel = (
        q8.where(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "q",
            F.expr(dot.format(a="q", b="qq")).alias("rel"),
        )
    )
    cand = (
        rel.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(cand_n)
        .transform(sizing.materialize, "mmr candidates, size the gate")
    )
    # The k-1 per-pick checkpoint jobs collapse into ONE Arrow task over
    # the cand_n-row frame (at most cand_n rows by the limit, so the
    # bound costs nothing); the distributed loop below is the path for a
    # cand_n beyond one task's reach.
    fast = sizing.single_task(
        cand,
        _mmr_single_task_kernel(k),
        "pick_order int, vec_id long, rel long, score long",
        name="mmr",
        max_rows=MMR_SINGLE_TASK_MAX_ROWS,
        rows=cand_n,
    )
    if fast is not None:
        return fast.select(
            "pick_order",
            "vec_id",
            F.col("rel").cast("double").alias("rel_d"),
            F.col("score").cast("double").alias("score_d"),
        )
    sel = (
        cand.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(1)
        .select(
            "vec_id", "q", "rel",
            F.col("rel").alias("score"),
            F.lit(1).alias("pick_order"),
        )
        .transform(sizing.materialize, "mmr first pick")
    )
    for t in range(2, k + 1):
        pen = (
            cand.join(sel.select("vec_id"), "vec_id", "left_anti")
            .crossJoin(sel.select(F.col("q").alias("sq")))
            .select(
                "vec_id",
                F.expr(dot.format(a="q", b="sq")).alias("d"),
            )
            .groupBy("vec_id")
            .agg(F.max("d").alias("pen"))
        )
        pick = (
            cand.join(pen, "vec_id")
            .select(
                "vec_id", "q", "rel",
                (F.col("rel") - F.col("pen")).alias("score"),
                F.lit(t).alias("pick_order"),
            )
            .orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(1)
        )
        sel = sizing.materialize(sel.unionByName(pick), "mmr picks, per round")
    return sel.select(
        "pick_order",
        "vec_id",
        F.col("rel").cast("double").alias("rel_d"),
        F.col("score").cast("double").alias("score_d"),
    )


def hard_negative_topk(
    embeddings: DataFrame,
    *,
    n_queries: int = 32,
    k: int = 3,
    dup_threshold: float = 0.4,
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each
    anchor (the first ``n_queries`` vec_ids), the ``k`` most-similar
    corpus vectors strictly BELOW the near-duplicate threshold —
    semantically close but provably not duplicates, the negatives that
    make an InfoNCE/SimCLR batch informative. Vectors at or above
    ``dup_threshold`` (the verified embedding_near_dup_pairs contract)
    are excluded as false negatives; the ``label_match`` flag marks
    negatives sharing the anchor's label (candidate false negatives a
    curator reviews before training).

    Scale shape: the bounded anchor set broadcasts and the corpus streams
    (_probe_scan, VERDICT r8 #2); the rank is the salted two-level exact
    top-k, never a per-anchor single reducer. The serving path swaps the
    candidate generator for the LSH/IVF bucketed form exactly like
    embedding_topk_*."""
    emb = _as_double(embeddings).select("vec_id", "label", "embedding")
    q = _with_norm(
        emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("alabel"),
            F.col("embedding").alias("q_emb"),
        ),
        "q_emb",
        "q_norm",
    )
    c = _with_norm(
        emb.select(
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("nlabel"),
            F.col("embedding").alias("c_emb"),
        ),
        "c_emb",
        "c_norm",
    )
    scored = (
        _probe_scan(c, q)
        .filter(F.col("anchor_id") != F.col("negative_id"))
        .select(
            "anchor_id",
            "negative_id",
            _cosine_prenormed(
                F.col("q_emb"), F.col("c_emb"), F.col("q_norm"), F.col("c_norm")
            ).alias("cosine"),
            F.when(F.col("nlabel") == F.col("alabel"), 1)
            .otherwise(0)
            .alias("label_match"),
        )
    )
    neg = scored.filter(F.col("cosine") < dup_threshold)
    return _keyed_topk(neg, "anchor_id", "cosine", "negative_id", k).select(
        "anchor_id",
        "negative_id",
        "cosine",
        F.col("label_match").cast("double").alias("label_match_d"),
        "rnk",
    )


def int8_quantize(
    embeddings: DataFrame, *, id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric max-abs int8 quantization of a 64-dim embedding: per
    vector scale = max|e_i|, code_i = floor(e_i * 127 / scale) — the
    4x memory/bandwidth member of the quantization spectrum between the
    sign-bit binary codes (32x, Hamming) and full float32 (cosine).
    floor (not round) keeps the code deterministic on both engines for
    every representable double; an all-zero vector quantizes to zeros
    with scale 0 (CASE-guarded — ANSI division discipline). Narrow map,
    no shuffle, no Python."""
    emb = _as_double(embeddings)
    scale = F.array_max(F.transform(F.col("embedding"), F.abs))
    code = F.when(F.col("scale") == 0.0, F.expr(
        "transform(embedding, x -> 0L)"
    )).otherwise(
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(x * CAST(127 AS DOUBLE) / scale) AS BIGINT))"
        )
    )
    return (
        emb.select(id_col, "embedding", scale.alias("scale"))
        .select(id_col, F.col("scale"), code.alias("q"))
    )


def int8_dot_topk(
    embeddings: DataFrame,
    *,
    n_queries: int = 20,
    k: int = 5,
) -> DataFrame:
    """Int8 first-stage retrieval: exact integer dot products over the
    quantized codes (64 int8 terms -> |dot| <= 64*127^2, comfortably
    BIGINT), de-quantized per pair by ONE double chain
    dot * (qs/127) * (cs/127) for ranking — the integer dot is
    engine-order-free, the de-quantization is two correctly-rounded
    multiplies. Probe side broadcasts, corpus streams (_probe_scan),
    rank is the salted two-level exact top-k. Output: (query_id,
    neighbor_id, int_dot_d, score_d, rnk)."""
    codes = int8_quantize(embeddings)
    q = codes.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("scale").alias("qs"),
        F.col("q").alias("qq"),
    )
    c = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("scale").alias("cs"),
        F.col("q").alias("cq"),
    )
    scored = (
        _probe_scan(c, q)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(zip_with(qq, cq, (x, y) -> x * y),"
                " 0L, (a, x) -> a + x)"
            ).alias("dot"),
            "qs",
            "cs",
        )
        .select(
            "query_id",
            "neighbor_id",
            "dot",
            (
                F.col("dot").cast("double")
                * (F.col("qs") / F.lit(127.0))
                * (F.col("cs") / F.lit(127.0))
            ).alias("score"),
        )
    )
    return _keyed_topk(scored, "query_id", "score", "neighbor_id", k).select(
        "query_id",
        "neighbor_id",
        F.col("dot").cast("double").alias("int_dot_d"),
        F.col("score").alias("score_d"),
        "rnk",
    )

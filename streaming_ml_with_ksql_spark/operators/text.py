"""Text-analysis operators for the training-data pipeline (north-star
surface, BASELINE.json): quality stats, language-ID heuristic, token
counting, document fingerprinting, and MinHash/SimHash near-duplicate
detection over the ``documents`` table.

Everything here is built from JVM-side `pyspark.sql.functions` — hashing,
shingling and banding are Catalyst expressions, so the hot path never
crosses into Python. Hash identity across engines: md5 over UTF-8 strings
produces identical lowercase hex in Spark and DuckDB, which is what makes
the differential oracles exact.

Scale notes (100 TB):
- Shingling explodes each doc into ~|tokens| rows; the MinHash signature is
  computed with k aggregate expressions in ONE groupBy over that explode —
  no k-fold re-scan, map-side partial min before the shuffle.
- LSH banding turns all-pairs O(n²) into per-bucket candidate generation:
  the only shuffles are groupBy(doc) and groupBy(band). Verification joins
  only candidate pairs back to shingle sets.
- SimHash banding (4×8-bit bands on a 32-bit fingerprint) guarantees recall
  for hamming distance ≤ 3 by pigeonhole while keeping candidate generation
  an equi-join on (band_id, band_bits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from . import sizing

__all__ = [
    "tokens_col",
    "shingles",
    "text_stats",
    "token_counts",
    "lang_id",
    "doc_fingerprint",
    "minhash_signatures",
    "minhash_candidate_pairs",
    "near_dup_pairs_minhash",
    "ngram_jaccard_pairs",
    "dedup_near_minhash",
    "simhash_fingerprint",
    "near_dup_pairs_simhash",
    "clean_corpus",
    "stratified_sample",
    "repetition_stats",
    "decontaminate",
    "hash_split",
    "shuffle_shard",
    "bm25_scores",
    "chunk_tokens",
    "pack_sequences",
    "pii_scrub",
    "domain_mix_weights",
    "ngram_lm_score",
    "hash_embed",
    "tfidf_top_terms",
    "priority_sample",
    "term_hits",
    "postings_from_hits",
]

# Stopword lists for the language-ID heuristic (tiny on purpose: the
# operator contract is deterministic scoring, not linguistic accuracy).
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu"),
    "es": ("el", "la", "de", "que", "y", "los", "es"),
    "fr": ("le", "la", "les", "et", "un", "une", "est"),
}

TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of lowercased text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles; empty array when the doc has < n tokens
    (guarded — Spark's `sequence` would happily count *down*)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-document quality stats: token/char counts, punctuation and
    stopword ratios, and a composite quality score in [0,1]."""
    toks = tokens_col(F.col("text"))
    n_ws_tokens = F.size(toks)
    n_regex_tokens = F.regexp_count(F.col("text"), F.lit(TOKEN_PATTERN))
    n_chars = F.length("text")
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]"))
    en_stop = STOPWORDS["en"]
    is_stop = lambda t: t.isin(*en_stop)  # noqa: E731
    n_stop = F.size(F.filter(toks, is_stop))
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(n_stop / F.greatest(n_ws_tokens, F.lit(1)), 6)
    avg_token_len = F.round(
        (n_chars - (n_ws_tokens - 1)) / F.greatest(n_ws_tokens, F.lit(1)), 6
    )
    # Composite quality heuristic: long enough, some stopwords, not
    # punctuation-heavy. Weights are arbitrary but frozen (oracle-checked).
    quality = F.round(
        F.least(n_ws_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.4
        + (1 - F.least(punct_ratio * 10, F.lit(1.0))) * 0.2,
        6,
    )
    return documents.select(
        "doc_id",
        "lang",
        n_chars.alias("n_chars_live"),
        n_ws_tokens.alias("n_tokens_ws"),
        n_regex_tokens.alias("n_tokens_regex"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        avg_token_len.alias("avg_token_len"),
        quality.alias("quality_score"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Corpus token budget (north-star: token counting): per (source, lang)
    slice, document count, whitespace-token and BPE-ish subword-token
    totals, and mean subword tokens per doc — the planning numbers for a
    training-data mix at 100 TB (token sums are the unit data budgets are
    written in).

    Whitespace tokens are ``\\S+`` runs (no split-on-empty edge cases);
    subword tokens use TOKEN_PATTERN — letter/digit/underscore runs plus
    single punctuation marks, the pre-tokenization split a byte-pair
    encoder applies before merges. All counting is Catalyst `regexp_count`
    (JVM, codegen); the group-by carries two longs per doc, so the shuffle
    is bytes per document, not the text."""
    ws = F.regexp_count(F.col("text"), F.lit(r"\S+"))
    sub = F.regexp_count(F.col("text"), F.lit(TOKEN_PATTERN))
    per_doc = documents.select("source", "lang", ws.alias("ws"), sub.alias("sub"))
    return per_doc.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("sub").alias("subword_tokens"),
        F.round(
            F.sum("sub").cast("double") / F.count("*"), 4
        ).alias("avg_subword_tokens"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-hit language ID: score = hits/|tokens| per language,
    prediction = argmax (ties broken by language code order)."""
    toks = tokens_col(F.col("text"))
    out = documents.select("doc_id", "lang", toks.alias("toks"))
    n = F.greatest(F.size("toks"), F.lit(1))
    def _hits(words):
        # single-arg closure: a two-arg lambda would be treated as Spark's
        # (element, index) higher-order form
        return F.size(F.filter(F.col("toks"), lambda t: t.isin(*words)))

    scores = []
    for code, words in sorted(STOPWORDS.items()):
        out = out.withColumn(f"score_{code}", F.round(_hits(words) / n, 6))
        scores.append(code)
    # argmax with deterministic ties: greatest score, first lang code wins
    pred = F.lit(None).cast("string")
    best = F.lit(-1.0)
    for code in scores:
        pred = F.when(F.col(f"score_{code}") > best, F.lit(code)).otherwise(pred)
        best = F.greatest(best, F.col(f"score_{code}"))
    return out.select(
        "doc_id",
        "lang",
        *[f"score_{c}" for c in scores],
        pred.alias("predicted_lang"),
    )


def doc_fingerprint(documents: DataFrame, *, n: int = 3, k: int = 5) -> DataFrame:
    """Min-k fingerprint: md5 of the k lexicographically-smallest distinct
    shingle hashes — a compact, order-insensitive document signature."""
    toks = tokens_col(F.col("text"))
    sh_hashes = F.transform(shingles(toks, n), lambda s: F.md5(s))
    sorted_distinct = F.array_sort(F.array_distinct(sh_hashes))
    fp = F.md5(F.concat_ws("", F.slice(sorted_distinct, 1, k)))
    return documents.select(
        "doc_id",
        F.size(sorted_distinct).alias("n_distinct_shingles"),
        fp.alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH near-dup detection
# ---------------------------------------------------------------------------

# Docs per task ahead of a CPU-bound shingling/hashing expansion. Input
# partitioning follows *bytes* (one small parquet file → one partition),
# but the expansion's cost follows *rows × tokens* — an explicit
# partition count keeps AQE from coalescing the byte-small, CPU-heavy
# stage onto one core, while the ``ceil(rows / 160)`` cap (VERDICT r4)
# keeps small frames from paying full-width task-scheduling overhead.
EXPAND_ROWS_PER_TASK = 160


def _doc_shingles(
    documents: DataFrame, n: int, *, distinct: bool = True
) -> DataFrame:
    """(doc_id, shingle) pairs. ``distinct=False`` skips the dedup shuffle
    for consumers that are duplicate-insensitive (MinHash mins) — at
    100 TB the global distinct is a full-corpus shuffle worth avoiding."""
    toks = tokens_col(F.col("text"))
    ds = sizing.fan_out(
        documents.select("doc_id", "text"), rows_per_task=EXPAND_ROWS_PER_TASK
    ).select("doc_id", F.explode(shingles(toks, n)).alias("shingle"))
    return ds.distinct() if distinct else ds


# Universal-hash family for MinHash permutations: one md5 per shingle is
# reduced to a 28-bit integer h, and permutation i is (a_i·h + b_i) mod P.
# P < 2^29 and h < 2^28 keep every product below 2^57 — exact in int64 on
# both engines (no overflow under Spark ANSI mode), which is what lets the
# DuckDB oracle reproduce the signatures bit-for-bit. One md5 per shingle
# instead of k: the hash cost of the signature stage drops k-fold.
MINHASH_P = 536_870_909  # largest prime < 2^29


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a_i != 0 mod P."""
    return [
        (
            (1_000_003 * (i + 1) + 17) % MINHASH_P or 1,
            (777_767_777 * (i + 1) + 13) % MINHASH_P,
        )
        for i in range(num_hashes)
    ]


def _shingle_h(shingle: Column) -> Column:
    """28-bit integer digest of a shingle (first 7 hex chars of md5)."""
    return F.conv(F.substring(F.md5(shingle), 1, 7), 16, 10).cast("long")


def minhash_signatures(
    documents: DataFrame, *, n: int = 3, num_hashes: int = 12
) -> DataFrame:
    """k-permutation MinHash: minhash_i(doc) = min over shingles of
    (a_i·h(shingle) + b_i) mod P. One groupBy computes all k mins
    (map-side combined — the shuffle carries k longs per doc per
    partition, not shingle sets)."""
    # distinct=False: min() is duplicate-insensitive, so the dedup shuffle
    # would be pure waste. Project h once per shingle row — 12 agg
    # expressions re-deriving the md5 each would multiply the hash cost
    # back by k.
    ds = _doc_shingles(documents, n, distinct=False)
    dsh = ds.select("doc_id", _shingle_h(F.col("shingle")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return dsh.groupBy("doc_id").agg(*aggs)


def _bands(sig: DataFrame, id_col: str, bands: int, rows: int) -> DataFrame:
    """(id_col, band_id, band_hash): one row per band of each signature,
    band_hash the band's ``rows`` minhashes joined by '|'. ``doc_id`` is
    renamed to ``id_col``."""
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col("doc_id").alias(id_col),
        F.explode(F.array(*band_cols)).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def minhash_candidate_pairs(
    signatures: DataFrame, *, bands: int = 4, rows: int = 3
) -> DataFrame:
    """Banded LSH: docs agreeing on all `rows` minhashes of any band become
    a candidate pair. Returns distinct (doc_a, doc_b) with doc_a < doc_b."""
    banded = _bands(signatures, "doc_id", bands, rows)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_candidate_pairs_between(
    sig_new: DataFrame,
    sig_old: DataFrame,
    *,
    bands: int = 4,
    rows: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """ASYMMETRIC banded LSH: candidates between an arriving batch and a
    persisted signature index — the incremental-ingest shape (the new
    batch's bands equi-join the index's bands; the corpus never
    self-joins). Returns distinct (new_doc, old_doc); pass
    ``distinct=False`` from a STREAMING caller (distinct is a stateful
    aggregate — the streaming twin dedups after the drain instead)."""
    out = (
        _bands(sig_new, "new_doc", bands, rows)
        .join(_bands(sig_old, "old_doc", bands, rows), ["band_id", "band_hash"])
        .select("new_doc", "old_doc")
    )
    return out.distinct() if distinct else out


# Document count below which the whole MinHash-LSH candidate + exact-
# verification cascade runs in ONE Arrow task (r15, guide §4.2 — the r14
# kernel discipline extended to the dedup family): below the bound the
# relational DAG's ~12 jobs (signature agg + persist build, banding
# self-join with its broadcast re-execution, candidate distinct, the
# semi-join + distinct + two-sided intersection join, two size joins)
# are pure scheduling overhead. Larger corpora keep the distributed
# cascade unchanged (the bound is a data bound from sizing.row_bound,
# not a core-count constant).
# Default measured from the 10x replicated-corpus stress (r15): each
# stress replica is an EXACT duplicate, so candidate cliques grow
# quadratically with the multiplier — the kernel reads flat vs the
# distributed cascade at 4x (20k docs: 14.5 vs 15.6 s) and LOSES at 10x
# (50k docs: 24.2 vs 15.7 s), while winning 2.3x at 1x (5k real docs:
# 1.6 vs 3.7 s). 20k bounds the kernel at the measured worst-case
# break-even; real (less dup-heavy) corpora cross over far higher.
MINHASH_SINGLE_TASK_MAX_DOCS = 20_000

# Same gate for the exact inverted-index pair family (ngram_jaccard) —
# its pair volume is Σ_s df(s)² on both paths, so the doc bound is the
# shared safety envelope.
NGRAM_PAIRS_SINGLE_TASK_MAX_DOCS = MINHASH_SINGLE_TASK_MAX_DOCS

# Output of both doc-pair kernels and of _pair_counts: exact integer
# counts, finished into a jaccard by _jaccard_pairs.
_PAIR_COUNTS_SCHEMA = "doc_a long, doc_b long, n_inter long, n_a long, n_b long"


def _integral_ids(documents: DataFrame) -> bool:
    """The doc-pair kernels read ``doc_id`` as int64; string-keyed corpora
    take the distributed path."""
    return isinstance(documents.schema["doc_id"].dataType, IntegralType)


def _jaccard_pairs(counts: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b) → (doc_a, doc_b, jaccard) pairs
    at or above ``threshold``. Every route of every jaccard pair operator
    finishes here, so the division and 6-dp round are the same Spark
    expressions and kernel and distributed floats agree bitwise."""
    jac = F.round(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
    )
    return counts.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _minhash_pairs_kernel(num_hashes: int, bands: int, rows: int):
    """Single-task MinHash-LSH: replays the relational cascade exactly
    over one bounded (doc_id, shingle, h) partition and emits candidate
    pairs with their EXACT integer intersection/size counts — the
    jaccard division + round + threshold stay in Spark expressions, so
    the float semantics are bit-identical to the distributed path.

    Exactness argument, step for step:
    - signatures: min over instance rows of (a_i·h + b_i) mod P ==
      the groupBy-min (duplicate-insensitive, order-free);
    - banding: integer triple equality == concat_ws('|') equality
      (decimal renderings of longs contain no '|');
    - candidates: same-band equality with doc_a < doc_b, deduped —
      identical pair set;
    - verification: |distinct shingle-string intersection| and distinct
      set sizes as exact ints (factorized codes, not the 28-bit h —
      md5-truncation collisions hit both paths identically because the
      relational path also intersects on the raw shingle string)."""
    coeffs = minhash_coeffs(num_hashes)

    def kern(batches):
        import numpy as np
        import pandas as pd

        docs_l, sh_l, h_l = [], [], []
        for pdf in batches:
            docs_l.append(pdf["doc_id"].to_numpy(dtype=np.int64))
            sh_l.append(pdf["shingle"].to_numpy(dtype=object))
            h_l.append(pdf["h"].to_numpy(dtype=np.int64))
        cols = ["doc_a", "doc_b", "n_inter", "n_a", "n_b"]
        if not docs_l or not sum(len(x) for x in docs_l):
            yield pd.DataFrame({c: pd.Series([], dtype="int64") for c in cols})
            return
        doc = np.concatenate(docs_l)
        sh = np.concatenate(sh_l)
        h = np.concatenate(h_l)
        dcodes, dids = pd.factorize(doc)
        dids = np.asarray(dids, dtype=np.int64)
        nd = len(dids)
        scodes, _ = pd.factorize(sh)
        scodes = scodes.astype(np.int64)
        n_sh_codes = np.int64(scodes.max()) + 1

        # per-doc signature mins (every doc has >= 1 shingle row here)
        sig = np.full((num_hashes, nd), MINHASH_P, dtype=np.int64)
        for i, (a, b) in enumerate(coeffs):
            np.minimum.at(sig[i], dcodes, (a * h + b) % MINHASH_P)

        # per-doc DISTINCT shingle-code sets (sorted, for intersections)
        key = dcodes.astype(np.int64) * n_sh_codes + scodes
        uniq = np.unique(key)
        ud = (uniq // n_sh_codes).astype(np.int64)
        uc = (uniq % n_sh_codes).astype(np.int64)
        n_sh = np.bincount(ud, minlength=nd).astype(np.int64)
        starts = np.zeros(nd + 1, dtype=np.int64)
        np.cumsum(n_sh, out=starts[1:])

        # banded candidates: same (band, 3-min tuple), doc_a < doc_b
        cand: set = set()
        for b in range(bands):
            m = sig[b * rows:(b + 1) * rows]
            order = np.lexsort(tuple(m[r] for r in reversed(range(rows))))
            sm = m[:, order]
            new = np.ones(nd, dtype=bool)
            new[1:] = (sm[:, 1:] != sm[:, :-1]).any(axis=0)
            bounds = np.flatnonzero(new)
            ends = np.append(bounds[1:], nd)
            for s, e in zip(bounds.tolist(), ends.tolist()):
                if e - s < 2:
                    continue
                real = np.sort(dids[order[s:e]])
                for x in range(len(real)):
                    for y in range(x + 1, len(real)):
                        cand.add((int(real[x]), int(real[y])))

        id_to_idx = {int(v): i for i, v in enumerate(dids)}
        out_a, out_b, out_i, out_na, out_nb = [], [], [], [], []
        for da, db in cand:
            ia, ib = id_to_idx[da], id_to_idx[db]
            sa = uc[starts[ia]:starts[ia + 1]]
            sb = uc[starts[ib]:starts[ib + 1]]
            ni = len(np.intersect1d(sa, sb, assume_unique=True))
            if ni == 0:
                continue  # the relational inner intersection join emits no row
            out_a.append(da)
            out_b.append(db)
            out_i.append(ni)
            out_na.append(int(n_sh[ia]))
            out_nb.append(int(n_sh[ib]))
        yield pd.DataFrame(
            {
                "doc_a": pd.Series(out_a, dtype="int64"),
                "doc_b": pd.Series(out_b, dtype="int64"),
                "n_inter": pd.Series(out_i, dtype="int64"),
                "n_a": pd.Series(out_na, dtype="int64"),
                "n_b": pd.Series(out_nb, dtype="int64"),
            }
        )

    return kern


def near_dup_pairs_minhash(
    documents: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact n-gram Jaccard ≥ threshold.
    Output: (doc_a, doc_b, jaccard). The verify join touches only candidate
    pairs — never all pairs.

    Below ``MINHASH_SINGLE_TASK_MAX_DOCS`` (sizing.row_bound of
    ``documents``; r15) the whole cascade — signatures, banding,
    candidates, exact intersection counts — runs in ONE Arrow task
    emitting integer counts, and only the jaccard division/round/threshold
    stay as Spark expressions (bit-identical floats by construction);
    parity vs the distributed cascade is pinned in tests/test_round15.py.
    Larger, unbounded or string-keyed corpora take the distributed plan
    below.

    Plan shape (the 100 TB concerns): NO global distinct over the
    shingle set — signatures use the raw exploded pairs (min is
    duplicate-insensitive), so the only full-corpus shuffle is that one
    aggregation; the candidates verify through ``_pair_counts``, which
    shuffles candidate docs' shingles only, never the corpus."""
    dsh = _doc_shingles(documents, n, distinct=False).select(
        "doc_id", "shingle", _shingle_h(F.col("shingle")).alias("h")
    )
    pk = sizing.single_task(
        dsh,
        _minhash_pairs_kernel(num_hashes, bands, rows),
        _PAIR_COUNTS_SCHEMA,
        name="minhash",
        max_rows=MINHASH_SINGLE_TASK_MAX_DOCS,
        rows=sizing.row_bound(documents),
        requires=_integral_ids(documents),
    )
    if pk is not None:
        return _jaccard_pairs(pk, threshold)
    # materialize: the signature aggregate is the expensive full-corpus pass
    # (shingle explode + one md5 per shingle row), and the banding
    # self-join reads it twice — its shuffle side and its broadcast build
    # side (broadcast builds never reuse a sibling exchange, so the whole
    # pipeline re-executed for it). Materializing the (doc_id, mh0..mh11)
    # frame — 12 longs per doc, O(|docs|) — makes it one pass (guide
    # §2.4/§5: reuse > recompute when the reused frame is keys+metadata,
    # never the corpus payload).
    sig = minhash_signatures(documents, n=n, num_hashes=num_hashes).transform(
        sizing.materialize, "minhash signatures, read twice", eager=False
    )
    cands = minhash_candidate_pairs(sig, bands=bands, rows=rows)
    return _jaccard_pairs(_pair_counts(documents, n, cands), threshold)


def _ngram_pairs_kernel():
    """Single-task inverted-shingle-index pair counting (r15, guide
    §4.2): over one bounded (doc_id, shingle) partition, emit every
    unordered doc pair sharing >= 1 distinct shingle with its EXACT
    integer intersection and per-doc distinct set sizes. Equality with
    the relational path is structural: the per-shingle doc lists ARE the
    self-join's matches, pairs are enumerated with real doc_a < doc_b,
    and n_inter counts distinct shared shingles exactly like the
    join-then-count. Pair volume is Σ_s df(s)² on BOTH paths; the
    single-task gate bounds it here."""

    def kern(batches):
        import numpy as np
        import pandas as pd

        docs_l, sh_l = [], []
        for pdf in batches:
            docs_l.append(pdf["doc_id"].to_numpy(dtype=np.int64))
            sh_l.append(pdf["shingle"].to_numpy(dtype=object))
        cols = ["doc_a", "doc_b", "n_inter", "n_a", "n_b"]
        if not docs_l or not sum(len(x) for x in docs_l):
            yield pd.DataFrame({c: pd.Series([], dtype="int64") for c in cols})
            return
        doc = np.concatenate(docs_l)
        sh = np.concatenate(sh_l)
        dcodes, dids = pd.factorize(doc)
        dids = np.asarray(dids, dtype=np.int64)
        nd = np.int64(len(dids))
        scodes, _ = pd.factorize(sh)
        scodes = scodes.astype(np.int64)
        # distinct (shingle, doc) pairs, grouped by shingle
        key = scodes * nd + dcodes.astype(np.int64)
        uniq = np.unique(key)
        sc = uniq // nd
        dc = (uniq % nd).astype(np.int64)
        n_sh = np.bincount(dc, minlength=int(nd)).astype(np.int64)
        new = np.ones(len(uniq), dtype=bool)
        new[1:] = sc[1:] != sc[:-1]
        bounds = np.flatnonzero(new)
        ends = np.append(bounds[1:], len(uniq))
        # order doc indices by REAL id so emitted pairs satisfy a < b
        rank = np.empty(int(nd), dtype=np.int64)
        rank[np.argsort(dids, kind="stable")] = np.arange(int(nd))
        pair_chunks = []
        for s, e in zip(bounds.tolist(), ends.tolist()):
            if e - s < 2:
                continue
            g = dc[s:e]
            g = g[np.argsort(rank[g], kind="stable")]
            ia, ib = np.triu_indices(len(g), 1)
            pair_chunks.append(g[ia] * nd + g[ib])
        if not pair_chunks:
            yield pd.DataFrame({c: pd.Series([], dtype="int64") for c in cols})
            return
        pairs, counts = np.unique(np.concatenate(pair_chunks), return_counts=True)
        pa = (pairs // nd).astype(np.int64)
        pb = (pairs % nd).astype(np.int64)
        yield pd.DataFrame(
            {
                "doc_a": dids[pa],
                "doc_b": dids[pb],
                "n_inter": counts.astype(np.int64),
                "n_a": n_sh[pa],
                "n_b": n_sh[pb],
            }
        )

    return kern


def _pair_counts(
    documents: DataFrame, n: int, cands: DataFrame | None = None
) -> DataFrame:
    """EXACT shingle overlap of document pairs: (doc_a, doc_b, n_inter,
    n_a, n_b), n_inter the distinct n-gram shingles the pair shares and
    n_a / n_b each side's distinct-shingle count. The one exact verify of
    the set-similarity pair operators: each finishes through
    ``_jaccard_pairs`` or its own integer projection. A pair sharing no
    shingle emits no row.

    ``cands=None``: every pair sharing a shingle, doc_a < doc_b — the
    inverted-index self-join, one shuffle keyed by shingle, cost
    Σ_s df(s)² over shingle document frequencies, never |docs|². Below
    ``NGRAM_PAIRS_SINGLE_TASK_MAX_DOCS`` (sizing.row_bound of
    ``documents``) with integral ids it runs as the ngram_pairs kernel
    in ONE Arrow task (parity pinned in tests/test_round15.py).

    ``cands`` (doc_a, doc_b), distinct: exactly those pairs, in the
    order given.
    The candidate frame is read twice (candidate-doc list, verify), so
    it is cut once; the shingle table is narrowed to candidate docs by a
    broadcast semi-join BEFORE its distinct, so the verify shuffles
    candidate shingles only, never the corpus."""
    if cands is None:
        pk = sizing.single_task(
            _doc_shingles(documents, n, distinct=False),
            _ngram_pairs_kernel(),
            _PAIR_COUNTS_SCHEMA,
            name="ngram_pairs",
            max_rows=NGRAM_PAIRS_SINGLE_TASK_MAX_DOCS,
            rows=sizing.row_bound(documents),
            requires=_integral_ids(documents),
        )
        if pk is not None:
            return pk
        ds = _doc_shingles(documents, n)
    else:
        cands = sizing.materialize(cands, "candidate pairs, read twice", eager=False)
        cand_docs = (
            cands.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        ds = (
            _doc_shingles(documents, n, distinct=False)
            .join(F.broadcast(cand_docs), "doc_id", "left_semi")
            .distinct()
        )
    a = ds.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = ds.select(F.col("doc_id").alias("doc_b"), "shingle")
    if cands is None:
        shared = a.join(b, "shingle").where(F.col("doc_a") < F.col("doc_b"))
    else:
        shared = cands.join(a, "doc_a").join(b, ["doc_b", "shingle"])
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        shared.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(sizes.toDF("doc_a", "n_a"), "doc_a")
        .join(sizes.toDF("doc_b", "n_b"), "doc_b")
    )


def ngram_jaccard_pairs(
    documents: DataFrame, *, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted shingle index —
    the deterministic member of the dedup family (MinHash approximates the
    same coefficient with probabilistic candidates).

    Completeness: any pair with jaccard ≥ threshold > 0 shares at least one
    shingle, so the index self-join (``_pair_counts`` without candidates;
    a single-task kernel on small integral-id corpora) enumerates a
    superset of all matches with their exact counts. The n² cross product
    never materializes."""
    return _jaccard_pairs(_pair_counts(documents, n), threshold)


def ngram_containment_pairs(
    documents: DataFrame, *, n: int = 3, threshold_ppm: int = 900_000
) -> DataFrame:
    """EXACT n-gram CONTAINMENT pairs — the ASYMMETRIC dedup signal
    Jaccard misses: an excerpt or quoted passage has tiny Jaccard
    against its source (the union is dominated by the source) but
    containment ~1 of the smaller side (Broder's containment
    coefficient, |A∩B|/|A| — the resemblance/containment pair from
    "On the resemblance and containment of documents", SEQUENCES 1997;
    public method, independently implemented).

    The pair counts are ngram_jaccard_pairs' own (``_pair_counts``
    without candidates: same kernel gate, same index self-join); only
    the projection differs. All three coefficients are emitted as
    INTEGER ppm (n_inter * 1e6 div size) — the micro-unit discipline;
    round(x, 6) on small-denominator rationals hits exact decimal halves
    (e.g. 5/128) where the engines disagree.

    Output: (doc_a, doc_b) with doc_a < doc_b, containment of each
    side, jaccard_ppm, kept when EITHER direction's containment clears
    ``threshold_ppm``.
    """
    out = _pair_counts(documents, n).select(
        "doc_a",
        "doc_b",
        F.expr("n_inter * 1000000L div n_a").alias("cont_a_in_b_ppm"),
        F.expr("n_inter * 1000000L div n_b").alias("cont_b_in_a_ppm"),
        F.expr("n_inter * 1000000L div (n_a + n_b - n_inter)").alias(
            "jaccard_ppm"
        ),
    )
    return out.filter(
        F.greatest("cont_a_in_b_ppm", "cont_b_in_a_ppm") >= F.lit(threshold_ppm)
    )


def dedup_near_minhash(documents: DataFrame, **kwargs) -> DataFrame:
    """Near-dedup: drop every doc that is a near-duplicate of a
    smaller-doc_id doc (min-id survivor policy). Returns surviving doc ids +
    metadata."""
    pairs = near_dup_pairs_minhash(documents, **kwargs)
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return documents.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# SimHash near-dup detection
# ---------------------------------------------------------------------------

def simhash_fingerprint(documents: DataFrame, *, bits: int = 32) -> DataFrame:
    """Unweighted token SimHash: bit j of the fingerprint is 1 iff more
    distinct tokens hash (md5 → low `bits` bits) to 1 than to 0 at j.

    Computed as explode(tokens) × explode(bit positions) → two shuffles
    (doc,bit) then (doc); entirely JVM expressions.
    """
    toks = tokens_col(F.col("text"))
    dt = sizing.fan_out(
        documents.select("doc_id", "text"), rows_per_task=EXPAND_ROWS_PER_TASK
    ).select("doc_id", F.explode(F.array_distinct(toks)).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, bits // 4), 16, 10).cast("long")
    dt = dt.select("doc_id", h.alias("h"))
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    # shiftright/shiftleft take only literal shift amounts in the Python API;
    # the SQL forms accept column shifts.
    per_bit = (
        dt.select("doc_id", "h", bit)
        .select(
            "doc_id",
            "bit",
            F.expr("shiftright(h, CAST(bit AS INT)) % 2").alias("b"),
        )
        .groupBy("doc_id", "bit")
        .agg((F.sum(F.col("b") * 2 - 1)).alias("vote"))
    )
    fp = per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("vote") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )
    return fp


def near_dup_pairs_simhash(
    documents: DataFrame, *, bits: int = 32, band_bits: int = 8, max_hamming: int = 3
) -> DataFrame:
    """Banded SimHash near-dup: candidates share at least one exact
    `band_bits`-bit band (pigeonhole ⇒ full recall for hamming ≤
    bits/band_bits − 1), verified with exact hamming distance ≤ max_hamming.
    """
    n_bands = bits // band_bits
    assert max_hamming < n_bands, "recall guarantee needs max_hamming < n_bands"
    fp = simhash_fingerprint(documents, bits=bits)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            (
                F.shiftright(F.col("simhash"), b * band_bits)
                % (1 << band_bits)
            ).alias("band_val"),
        )
        for b in range(n_bands)
    ]
    banded = fp.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "simhash", "band.band_id", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Composite corpus-cleaning pipeline
# ---------------------------------------------------------------------------

def clean_corpus(
    documents: DataFrame,
    *,
    langs: tuple[str, ...] = ("en", "de"),
    min_tokens: int = 25,
    max_punct_ratio: float = 0.05,
    n: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """The end-to-end training-data cleaning pass a 100 TB corpus gets:
    language selection → quality gates (token count, punctuation ratio) →
    MinHash-LSH near-dup removal (min-doc_id survivor) — composed from the
    operators above so every stage keeps its plan shape (JVM expressions,
    banded LSH, candidate-only verification).

    Output: surviving (doc_id, lang, source, n_chars, n_tokens).
    """
    toks = tokens_col(F.col("text"))
    n_tok = F.size(toks)
    punct = F.round(
        F.regexp_count(F.col("text"), F.lit(r"[^\w\s]"))
        / F.greatest(F.length("text"), F.lit(1)),
        6,
    )
    kept = (
        documents.withColumn("n_tokens", n_tok)
        .withColumn("__punct", punct)
        .filter(
            F.col("lang").isin(*langs)
            & (F.col("n_tokens") >= min_tokens)
            & (F.col("__punct") <= max_punct_ratio)
        )
    )
    losers = (
        near_dup_pairs_minhash(kept, n=n, threshold=jaccard_threshold)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return kept.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars", "n_tokens"
    )


# ---------------------------------------------------------------------------
# Char-trigram language ID (the n-gram variant; lang_id above is the
# stopword variant)
# ---------------------------------------------------------------------------

TRIGRAM_PROFILES = {
    "de": ("der", "ein", "ich", "sch", "und", "die", "en ", " de"),
    "en": ("the", "ing", "and", "ion", " th", "he ", "ed ", " of"),
    "es": ("que", "los", " de", "ado", "la ", "el ", "os ", " la"),
    "fr": ("les", "ent", " le", "des", "une", "est", "eur", "qui"),
}


def lang_id_ngram(
    documents: DataFrame, *, regex_mode: bool = True
) -> DataFrame:
    """Character-trigram language ID: score(lang) = fraction of the doc's
    char trigrams that appear in the language's profile; prediction =
    argmax with deterministic ties.

    Two execution shapes with IDENTICAL results (parity-pinned in
    tests/test_northstar.py, including NULL/empty/short/astral-plane
    text and dense overlapping grams):

    - ``regex_mode`` (default, r14): ONE codegen'd
      ``regexp_count(__t, '(?=(?:g1|g2|...))')`` per language. The
      zero-width lookahead matches exactly the positions i whose
      code-point trigram substring(__t, i, 3) is in the profile set
      (each position matches at most once; Java regex advances one code
      point past an empty match, so supplementary characters count like
      the substring form), giving the same hit count with no trigram
      array materialization, no per-element interpreted closures, and no
      shuffle. NULL text: regexp_count is NULL -> coalesce 0 over n = 1,
      matching the per-row form's dropped NULL-predicate element.
    - the original per-row form (4 interpreted higher-order
      ``filter(array_contains)`` scans over a materialized trigram
      array) — kept for the parity test; measured 3.4 s standalone at
      sf0.1 vs ~0.9 s for the regex form (an earlier broadcast-join
      variant measured 4.85 s — the added shuffle lost to both).
    """
    codes = sorted(TRIGRAM_PROFILES)
    if regex_mode:
        out = documents.select(
            "doc_id", "lang", F.lower(F.trim(F.col("text"))).alias("__t")
        )
        # n == size of the per-row form's trigram array: sequence length
        # greatest(len-2, 1); NULL text -> greatest skips NULL -> 1.
        n = F.greatest(F.length("__t") - 2, F.lit(1))
        for code in codes:
            # sorted-set: membership semantics (a duplicate gram in a
            # profile must not double-count a hit); \Q..\E literal-quotes.
            pat = (
                "(?=(?:"
                + "|".join(
                    "\\Q%s\\E" % g
                    for g in sorted(set(TRIGRAM_PROFILES[code]))
                )
                + "))"
            )
            hits = F.coalesce(
                F.regexp_count(F.col("__t"), F.lit(pat)), F.lit(0)
            )
            out = out.withColumn(f"score_{code}", F.round(hits / n, 6))
    else:
        out = documents.select(
            "doc_id", "lang", F.lower(F.trim(F.col("text"))).alias("__t")
        ).withColumn(
            "__tri",
            F.expr(
                "transform(sequence(1, greatest(char_length(__t) - 2, 1)),"
                " i -> substring(__t, i, 3))"
            ),
        )
        n = F.greatest(F.size("__tri"), F.lit(1))
        for code in codes:
            profile = F.array(*[F.lit(g) for g in TRIGRAM_PROFILES[code]])
            hits = F.size(
                F.filter(
                    F.col("__tri"), lambda x: F.array_contains(profile, x)
                )
            )
            out = out.withColumn(f"score_{code}", F.round(hits / n, 6))
    pred = F.lit(None).cast("string")
    best = F.lit(-1.0)
    for code in codes:
        pred = F.when(F.col(f"score_{code}") > best, F.lit(code)).otherwise(pred)
        best = F.greatest(best, F.col(f"score_{code}"))
    return out.select(
        "doc_id",
        "lang",
        *[f"score_{c}" for c in codes],
        pred.alias("predicted_lang"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    quotas: dict[str, int],
    *,
    id_col: str,
    default_quota: int = 0,
) -> DataFrame:
    """Deterministic stratified sampling — the data-mixing step of a
    training pipeline: take up to ``quotas[stratum]`` rows per stratum,
    chosen by hash order (md5 of the id), so the sample is pseudo-random
    but reproducible across runs and engines (no RNG in the plan).

    One shuffle on the stratum; rank + quota filter. At 100 TB prefer
    quota ≪ stratum size so the per-stratum sort stays cheap (top-k heap
    under AQE), or pre-filter with a hash-threshold for huge strata.
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    quota = None
    for stratum, q in sorted(quotas.items()):
        cond = F.when(F.col(strata_col) == stratum, F.lit(q))
        quota = cond if quota is None else quota.when(
            F.col(strata_col) == stratum, F.lit(q)
        )
    quota = (quota.otherwise(F.lit(default_quota)) if quota is not None
             else F.lit(default_quota))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= quota)
        .drop("__rk")
    )


# ---------------------------------------------------------------------------
# Repetition quality metrics + benchmark decontamination
# ---------------------------------------------------------------------------

# repetition_stats runs its row-local Arrow kernel; parity tests patch this
# to False to run the relational twin.
REP_STATS_ROW_LOCAL = True

def _rep_stats_kernel():
    """Vectorized per-partition word/bigram repetition counts — the
    row-local Arrow fast path of repetition_stats (r15, guide §4.2 +
    §2.4: every statistic here depends only on its OWN row's token
    array, so the explode → two double-shuffle aggregate chains of the
    relational path are pure overhead at every scale; this kernel is
    shuffle-free and embarrassingly parallel). Exactness: factorize +
    lexsort run-length counting yields the identical integer
    total/distinct/max-multiplicity per doc as groupBy(doc, term)
    (``use_na_sentinel=False`` gives NULL elements one shared code,
    matching Spark's NULL grouping); bigram identity via int64 pair
    codes equals the space-joined shingle strings because whitespace-
    split tokens make the join injective. Docs with NULL/empty token
    arrays emit nothing — exactly the relational explode's behavior."""

    def kern(batches):
        import numpy as np
        import pandas as pd

        cols = [
            "doc_id", "w_total", "w_distinct", "w_max",
            "b_total", "b_distinct", "b_max",
        ]
        for pdf in batches:
            ids_in = pdf["doc_id"]
            toks_in = pdf["t"].tolist()
            keep = [
                i for i, t in enumerate(toks_in)
                if t is not None and len(t) > 0
            ]
            if not keep:
                yield pd.DataFrame(
                    {c: pd.Series([], dtype="int64") for c in cols}
                )
                continue
            ids = ids_in.iloc[keep].reset_index(drop=True)
            toks = [np.asarray(toks_in[i], dtype=object) for i in keep]
            lens = np.fromiter(
                (len(t) for t in toks), dtype=np.int64, count=len(toks)
            )
            nd = len(toks)
            doc_idx = np.repeat(np.arange(nd), lens)
            flat = np.concatenate(toks)
            codes, _ = pd.factorize(flat, use_na_sentinel=False)
            codes = codes.astype(np.int64)

            def runstats(d, c):
                order = np.lexsort((c, d))
                di, ci = d[order], c[order]
                new = np.ones(len(di), dtype=bool)
                new[1:] = (di[1:] != di[:-1]) | (ci[1:] != ci[:-1])
                run_ids = np.cumsum(new) - 1
                run_len = np.bincount(run_ids)
                run_doc = di[new]
                distinct = np.bincount(run_doc, minlength=nd)
                mx = np.zeros(nd, dtype=np.int64)
                np.maximum.at(mx, run_doc, run_len)
                total = np.bincount(d, minlength=nd)
                return total, distinct, mx

            w_total, w_distinct, w_max = runstats(doc_idx, codes)
            if len(flat) > 1:
                same = doc_idx[1:] == doc_idx[:-1]
                has_null = any(x is None for x in flat)
                if not has_null:
                    # pair codes == the space-joined shingle strings
                    # (whitespace-split tokens make the join injective)
                    k_codes = np.int64(codes.max()) + 1
                    bc = codes[:-1][same] * k_codes + codes[1:][same]
                else:
                    # concat_ws SKIPS NULL parts, so ('a', NULL) and
                    # (NULL, 'a') both shingle to 'a' — build the
                    # literal strings to reproduce that collapsing
                    lhs, rhs = flat[:-1][same], flat[1:][same]
                    bc, _ = pd.factorize(
                        np.asarray(
                            [
                                " ".join(p for p in (x, y) if p is not None)
                                for x, y in zip(lhs, rhs)
                            ],
                            dtype=object,
                        )
                    )
                    bc = bc.astype(np.int64)
                bd = doc_idx[:-1][same]
                b_total, b_distinct, b_max = runstats(bd, bc)
            else:
                b_total = b_distinct = b_max = np.zeros(nd, dtype=np.int64)
            out = pd.DataFrame(
                {
                    "doc_id": ids,
                    "w_total": w_total,
                    "w_distinct": w_distinct,
                    "w_max": w_max,
                    "b_total": b_total,
                    "b_distinct": b_distinct,
                    "b_max": b_max,
                }
            )
            yield out

    return kern


def repetition_stats(
    documents: DataFrame, *, tokens: str | None = None
) -> DataFrame:
    """Gopher-style repetition metrics per document (Rae et al. 2021,
    "Scaling Language Models" §A1.1 use line/ngram repetition filters; the
    testdata's docs are single-line, so the word- and bigram-level metrics
    are the meaningful ones):

      n_words            total whitespace tokens
      distinct_word_frac |distinct words| / n_words
      top_word_frac      most-frequent word's share of n_words
      dup_bigram_frac    1 - |distinct bigrams| / n_bigrams
      top_bigram_frac    most-frequent bigram's share of n_bigrams

    Shape: every metric depends only on its own row's token array, so
    ONE vectorized Arrow pass computes all counts with ZERO shuffles at
    any scale (guide §4.2); the relational explode → groupBy(doc, term)
    → per-doc agg path is kept under ``REP_STATS_ROW_LOCAL = False`` for
    the parity test. Ratios are exact
    integer divisions rounded at 6 dp (cross-engine canonical),
    evaluated in the same Spark expressions on both paths.

    ``tokens``: name of a precomputed token-array column — lets a
    composite (doc_quality_score) tokenize the corpus ONCE and share the
    materialized scan across its stages instead of re-splitting text per
    stage (VERDICT r8 #6). Precondition: no token contains whitespace
    (as with ``tokens_col``): the kernel identifies a bigram by its pair
    of token codes, which matches the relational path's space-joined
    bigram string only for whitespace-free tokens."""
    toks = F.col(tokens) if tokens else tokens_col(F.col("text"))
    base = documents.select("doc_id", toks.alias("t"))

    if REP_STATS_ROW_LOCAL:
        # shuffle-free fast path (r15): every stat is row-local, so ONE
        # vectorized pass replaces four exchanges. The kernel emits 0
        # for the bigram counts of <2-token docs where the relational
        # left join emits NULL — the final expressions below are
        # provably equal on both encodings (coalesce(x, 0) and
        # greatest(x, 1) send 0 and NULL to the same values), and the
        # parity is pinned in tests/test_round15.py.
        id_t = base.schema["doc_id"].dataType.simpleString()
        joined = base.mapInPandas(
            _rep_stats_kernel(),
            schema=(
                f"doc_id {id_t}, w_total long, w_distinct long, "
                "w_max long, b_total long, b_distinct long, b_max long"
            ),
        )
    else:

        def _gram_stats(col: Column, prefix: str) -> DataFrame:
            exploded = base.select("doc_id", F.explode(col).alias("term"))
            return (
                exploded.groupBy("doc_id", "term")
                .agg(F.count(F.lit(1)).alias("n"))
                .groupBy("doc_id")
                .agg(
                    F.sum("n").alias(f"{prefix}_total"),
                    F.count(F.lit(1)).alias(f"{prefix}_distinct"),
                    F.max("n").alias(f"{prefix}_max"),
                )
            )

        words = _gram_stats(F.col("t"), "w")
        bigrams = _gram_stats(shingles(F.col("t"), 2), "b")
        joined = words.join(bigrams, "doc_id", "left")
    nz = lambda c: F.greatest(c, F.lit(1))  # noqa: E731
    return joined.select(
        "doc_id",
        F.col("w_total").alias("n_words"),
        F.round(F.col("w_distinct") / nz(F.col("w_total")), 6).alias(
            "distinct_word_frac"
        ),
        F.round(F.col("w_max") / nz(F.col("w_total")), 6).alias("top_word_frac"),
        F.round(
            1 - F.coalesce(F.col("b_distinct"), F.lit(0)) / nz(F.col("b_total")), 6
        ).alias("dup_bigram_frac"),
        F.round(
            F.coalesce(F.col("b_max"), F.lit(0)) / nz(F.col("b_total")), 6
        ).alias("top_bigram_frac"),
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: training docs sharing at least one word
    ``n``-gram with any benchmark doc, with the count of distinct shared
    shingles — the standard eval-overlap filter for LLM training corpora
    (n-gram collision against held-out benchmarks).

    Shape: both sides shingle-explode; the benchmark side is tiny (eval
    sets are thousands of prompts, the corpus is 100 TB), so its distinct
    shingle set BROADCASTS and contamination is a broadcast inner join on
    the shingle — the corpus side never shuffles before the join. Per-doc
    shingle dedup happens AFTER the join (count_distinct in the final
    groupBy), so the only shuffle carries the contaminated docs' matched
    shingles — a vanishing fraction of the corpus. Output is (doc_id,
    n_shared_shingles) for contaminated docs only."""
    train_sh = sizing.fan_out(
        documents.select(id_col, "text"), rows_per_task=EXPAND_ROWS_PER_TASK
    ).select(
        id_col, F.explode(shingles(tokens_col(F.col("text")), n)).alias("shingle")
    )
    bench_sh = (
        benchmark.select(
            F.explode(shingles(tokens_col(F.col("text")), n)).alias("shingle")
        )
        .distinct()
    )
    return (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_shared_shingles"))
    )


# ---------------------------------------------------------------------------
# Reproducible split / shuffle / keyword scoring (training-data plumbing)
# ---------------------------------------------------------------------------

def _hash_bucket(key: Column, *, salt: str, mod: int) -> Column:
    """Deterministic cross-engine bucket in [0, mod): the first 7 hex
    digits (28 bits) of md5('<salt>:' || key) as an integer, mod ``mod``.
    Matches DuckDB's ('0x' || substr(md5(...),1,7))::UBIGINT exactly —
    md5 of a UTF-8 string is identical lowercase hex in both engines, and
    28 bits stays far below any ANSI-mode overflow."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), key.cast("string"))), 1, 7),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(mod))


def hash_split(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    salt: str = "split",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic train/val/test assignment by content-free id hash —
    the reproducible-split primitive of a training pipeline. Every engine,
    run, and data order produces the same assignment (no RNG in the plan,
    unlike ``df.randomSplit`` whose outcome depends on partitioning).

    Purely narrow: a per-row md5 + mod, no shuffle at any scale. Changing
    ``salt`` re-rolls the split without touching the data; holding it
    fixed makes incremental corpus additions stable (old docs never move
    between splits — the property that keeps eval sets uncontaminated as
    the corpus grows)."""
    bucket = _hash_bucket(F.col(id_col), salt=salt, mod=100)
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.select(
        id_col, bucket.alias("bucket"), split.alias("split")
    )


def shuffle_shard(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    num_shards: int = 16,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle for training-order reproducibility:
    each row gets a (shard, pos_in_shard) address where shard is a hash
    bucket and pos is the rank by (hash, id) inside the shard. Reading
    shards in order 0..S-1, each sorted by pos, yields the SAME
    pseudo-random document order on every engine and every run — the
    property data loaders need for resumable, comparable training runs.

    Scale shape: one shuffle keyed by shard, per-shard sort for the rank
    window. At 100 TB set num_shards ≫ executor count (e.g. 8-64k) so
    each shard's sort fits in memory and the output maps 1:1 onto
    training-loader file shards."""
    h = _hash_bucket(F.col(id_col), salt=salt, mod=1 << 28)
    shard = F.pmod(F.col("h"), F.lit(num_shards))
    w = Window.partitionBy("shard").orderBy(F.col("h").asc(), F.col(id_col).asc())
    return (
        df.select(id_col, h.alias("h"))
        .withColumn("shard", shard)
        .withColumn("pos_in_shard", F.row_number().over(w))
        .select(id_col, "shard", "pos_in_shard")
    )


def bm25_scores(
    documents: DataFrame,
    terms: tuple[str, ...] = ("spark", "window", "join"),
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword relevance per (document, query term) — the retrieval
    scoring step of a corpus search/filter pipeline (Robertson & Zaragoza
    2009), with one deliberate change: idf uses the RATIONAL Robertson
    form (N - df + 0.5)/(df + 0.5) WITHOUT the log. log() is not
    correctly-rounded-identical across engines (last-ulp divergence would
    break exact differential checks), while +,-,*,/ are IEEE
    correctly-rounded and therefore bit-identical when evaluated in the
    same order. Rank order per term is unchanged (log is monotone).

    Scale shape: the query-term list is a tiny literal array — exploding
    it is a narrow per-row fan-out of |terms|; tf comes from an array
    filter on the already-split tokens (no per-term rescan). The df and
    corpus-stats aggregates are bytes-sized and broadcast back. The only
    shuffle is the df groupBy over rows with tf > 0."""
    toks = tokens_col(F.col("text"))
    base = documents.select(
        "doc_id", toks.alias("t"), F.size(toks).alias("dl")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    per = base.select(
        "doc_id",
        "dl",
        F.explode(F.array(*[F.lit(t) for t in terms])).alias("term"),
        "t",
    ).select(
        "doc_id",
        "dl",
        "term",
        F.size(F.filter(F.col("t"), lambda x: x == F.col("term"))).alias("tf"),
    ).filter(F.col("tf") > 0)
    df_tbl = per.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = per.join(F.broadcast(df_tbl), "term").crossJoin(F.broadcast(stats))
    # Evaluation order mirrors the oracle SQL exactly — see the module
    # docstring on cross-engine float identity.
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    score = (
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl)))
    )
    return scored.select(
        "doc_id", "term", "tf", F.round(score, 6).alias("bm25")
    )


def chunk_tokens(
    documents: DataFrame,
    *,
    chunk_size: int = 256,
) -> DataFrame:
    """Fixed-token-budget document chunking — the context-window prep step
    of a training/RAG pipeline: each document becomes ⌈n/chunk_size⌉
    chunks of at most ``chunk_size`` whitespace tokens.

    Scale shape: ENTIRELY narrow. The token array never leaves its row —
    chunks are described by an index sequence + per-chunk arithmetic
    (least/element_at), then inline-exploded. No shuffle at any corpus
    size; output rows ~ total_tokens/chunk_size. The chunk text itself is
    deliberately not materialized here (first/last token + exact count
    address it) — a downstream writer slices the array only for chunks it
    keeps, preserving column pruning on `text`.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = documents.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    cs = F.lit(chunk_size)
    chunks = F.transform(
        F.sequence(F.lit(0), F.ceil(n / cs).cast("int") - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.least(cs, n - i * cs).cast("int").alias("n_tokens"),
            F.element_at("toks", (i * cs + 1).cast("int")).alias("first_token"),
            F.element_at(
                "toks", F.least((i + 1) * cs, n).cast("int")
            ).alias("last_token"),
        ),
    )
    return base.select("doc_id", F.inline(chunks))


def pack_sequences(
    documents: DataFrame,
    *,
    budget: int = 2048,
    num_shards: int = 8,
    salt: str = "pack",
    token_count=None,
) -> DataFrame:
    """Greedy contiguous sequence packing: documents are laid out in a
    deterministic pseudo-random order inside hash shards, and each doc is
    assigned to the training pack (concatenated sequence of ~``budget``
    whitespace tokens) in which it STARTS — the standard concat-and-split
    packing that keeps padding waste near zero when preparing fixed-length
    training batches.

    Deterministic twin of a data-loader shuffle+pack: shard and order come
    from the salted md5 of doc_id (no RNG, stable across engines/runs —
    same property as hash_split/shuffle_shard). Scale shape: one shuffle
    keyed by shard, one per-shard sort window for the running token sum.
    At 100 TB set num_shards ≫ executor count so every shard's sort fits
    in memory; packs then map 1:1 onto loader shard files.

    ``token_count``: optional Column overriding the whitespace token
    counter — pass a real tokenizer's per-doc count (e.g. a joined BPE
    subword total) so packs reflect what the trainer actually consumes.
    """
    tok_n = (
        token_count
        if token_count is not None
        else F.regexp_count(F.col("text"), F.lit(r"\S+"))
    ).cast("bigint")
    h = _hash_bucket(F.col("doc_id"), salt=salt, mod=1 << 28)
    base = documents.select(
        "doc_id", tok_n.alias("n_tokens"), h.alias("h")
    ).withColumn("shard", F.pmod(F.col("h"), F.lit(num_shards)))
    w = Window.partitionBy("shard").orderBy(
        F.col("h").asc(), F.col("doc_id").asc()
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / F.lit(budget)).alias("pack_id"),
        (cum - F.col("n_tokens")).alias("start_offset"),
    )


# PII patterns written to the RE2 ∩ java.util.regex common dialect:
# ASCII classes only, no backreferences/lookaround, so regexp_count and
# regexp_replace behave identically in Spark (Java) and DuckDB (RE2).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PII_PHONE = r"\+[0-9][0-9 ()-]{6,}[0-9]"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """PII scrubbing pass (corpus-cleaning step before training): count
    email / IPv4 / phone-shaped spans per document and emit the md5 and
    length of the text with every match replaced by a fixed ``<PII>``
    sentinel. Replacement order is fixed (email → ipv4 → phone) so both
    engines transform identical strings identically.

    Scale shape: purely narrow per-row regex work, all JVM `regexp_count`
    / `regexp_replace` (codegen) — zero shuffle; the 100 TB cost is one
    streaming pass over `text`, which is the floor for any scrubber.
    """
    email_n = F.regexp_count(F.col("text"), F.lit(PII_EMAIL))
    ip_n = F.regexp_count(F.col("text"), F.lit(PII_IPV4))
    phone_n = F.regexp_count(F.col("text"), F.lit(PII_PHONE))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<PII>"),
            PII_IPV4,
            "<PII>",
        ),
        PII_PHONE,
        "<PII>",
    )
    return documents.select(
        "doc_id",
        email_n.cast("int").alias("n_emails"),
        ip_n.cast("int").alias("n_ipv4"),
        phone_n.cast("int").alias("n_phones"),
        F.length(scrubbed).cast("bigint").alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def domain_mix_weights(documents: DataFrame) -> DataFrame:
    """Per-source data-mixing weights: the factor to up/down-sample each
    source so the training mix hits a UNIFORM token share per source
    (weight = total_tokens / (n_sources · source_tokens)). The planning
    primitive behind "rebalance the corpus mix" at 100 TB.

    Cross-engine float discipline: weights are a SINGLE division of
    integer-valued doubles (counts), which IEEE rounds identically in
    both engines — no round()/log() canonicalization needed.

    Scale shape: one partial-aggregated groupBy on `source` (map-side
    combine carries two longs per source); the global totals are a 1-row
    aggregate broadcast back onto the per-source rows — no partition-less
    window at all (the old one single-partitioned the tiny frame and
    drowned bench output in WindowExec warnings, VERDICT r6 #5).
    """
    tok_n = F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint")
    per = documents.select("source", tok_n.alias("t")).groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("t").alias("n_tokens")
    )
    tot = per.agg(
        F.sum("n_docs").alias("__tot_docs"),
        F.sum("n_tokens").alias("__tot_tokens"),
        F.count(F.lit(1)).alias("__n_sources"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (
            F.col("n_docs").cast("double")
            / F.col("__tot_docs").cast("double")
        ).alias("doc_share"),
        (
            F.col("__tot_tokens").cast("double")
            / (
                F.col("__n_sources").cast("double")
                * F.col("n_tokens").cast("double")
            )
        ).alias("uniform_weight"),
    )


def ngram_lm_score(
    documents: DataFrame, *, k: float = 0.5, tokens: str | None = None
) -> DataFrame:
    """Per-document bigram language-model fluency score — the
    perplexity-filtering step of a CCNet-style corpus pipeline (Wenzek et
    al. 2020 train a 5-gram KenLM and drop high-perplexity docs; the
    operator contract here is the same corpus-trained n-gram scoring,
    self-supervised on the corpus being filtered).

    Score = mean conditional probability of each bigram under an add-k
    smoothed bigram model: P(w2|w1) = (C(w1,w2)+k) / (C(w1)+k·V).
    Deliberately log-free (mean prob, not log-perplexity): like
    ``bm25_scores``, exact cross-engine differential checking needs only
    IEEE correctly-rounded ops (+,-,*,/), while log() may diverge in the
    last ulp between engines. The ranking this filter thresholds on is
    unchanged (doc-length-normalized mean prob orders fluency the same
    direction; a production variant would emit log-perplexity from the
    identical counts).

    Scale shape: bigrams are built INSIDE the row (transform over an index
    sequence — narrow, no shuffle), then aggregated per (doc, w1, w2)
    with multiplicity so the model join touches distinct-bigrams-per-doc
    rows, not every token instance. The model itself is two groupBys over
    the corpus bigrams (map-side partial combine; state per key = one
    long). The probability join shuffles on (w1, w2) — both sides hash
    the same key, co-partitioned — and the vocab size is a broadcast
    scalar. Docs with < 2 tokens have no bigrams and drop out (the
    oracle states the same).

    ``tokens``: precomputed token-array column name (see
    repetition_stats — the doc_quality_score shared-scan contract).
    """
    toks = F.col(tokens) if tokens else tokens_col(F.col("text"))
    base = documents.select("doc_id", toks.alias("t")).filter(F.size("t") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.struct(
            F.element_at("t", i).alias("w1"),
            F.element_at("t", i + 1).alias("w2"),
        ),
    )
    big = base.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    # TWO corpus passes instead of three (r14, guide §2.3/§2.4/§8): the
    # model counts fold exactly from the per-doc counts (count == sum of
    # m), so bg/ctx/voc all derive from ONE materialized model-scale
    # aggregate instead of three independent explode+shuffle passes over
    # the corpus. voc is exact: every token of a >=2-token doc is w1 of
    # some bigram or w2 of the last one, so distinct(w1) ∪ distinct(w2)
    # IS the distinct token set. Only bg is materialized — it is bounded by
    # DISTINCT corpus bigrams (model-scale); doc_big is one row per
    # (doc, bigram) — corpus-scale — and caching it costs more bytes than
    # the corpus text itself (guide §8's decision-frame rule: persist
    # keys+metadata, never corpus payload; an A/B at sf0.1 read the
    # doc_big persist 1.4x SLOWER than recomputing the explode). Train
    # (bg) and score (doc_big) are the two irreducible corpus passes.
    doc_big = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("m")
    )
    # model counts straight off the instances (r15): count(*) per
    # (w1, w2) == sum(m) over the per-doc counts, and the direct groupBy
    # map-side-combines one shuffle instead of paying the (doc, w1, w2)
    # exchange first — the model pass drops an Exchange.
    bg = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    bg = sizing.materialize(bg, "bigram counts, read thrice", eager=False)
    ctx = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    voc = (
        bg.select(F.col("w1").alias("w"))
        .unionByName(bg.select(F.col("w2").alias("w")))
        .agg(F.count_distinct("w").alias("v"))
    )
    # Evaluation order mirrors the oracle SQL exactly (cross-engine float
    # identity): (c12 + k) / (c1 + k*v), summed weighted by multiplicity.
    p = (F.col("c12") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("v"))
    return (
        doc_big.join(bg, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(voc))
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("m") * p) / F.sum("m"), 6).alias("avg_cond_prob"),
        )
    )


def duplicate_span_positions(
    documents: DataFrame, *, k: int = 8, min_docs: int = 2
) -> DataFrame:
    """EXACT duplicate-substring spans: every position where a k-token
    n-gram occurs in >= min_docs distinct documents — the positional
    building block of exact substring deduplication (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL'22 —
    public method, independently implemented), which REMOVES repeated
    spans rather than dropping whole near-dup documents.

    Scale shape: one narrow pass emits (doc, pos, md5(gram)) — grouping
    on the 32-char digest, never the raw k-token text, keeps the shuffle
    payload fixed-width — then windows over ONE gram_md5 shuffle count
    each gram's documents and occurrences. Cost is Σ_g occ(g),
    linear in positions: no document pair is ever enumerated, so a
    frequent gram costs its occurrences, not their square.
    """
    toks = tokens_col(F.col("text"))
    grams = (
        sizing.fan_out(
            documents.select("doc_id", "text"),
            rows_per_task=EXPAND_ROWS_PER_TASK,
        )
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= k)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (k - 1)),
                    lambda i: F.struct(
                        (i - 1).cast("int").alias("pos"),
                        F.md5(F.concat_ws(" ", F.slice("t", i, k))).alias(
                            "gram_md5"
                        ),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.gram_md5")
    )
    # Annotate occurrences via WINDOWS over one gram_md5 shuffle instead
    # of a stats-groupBy + self-join: the join form recomputes the whole
    # tokenize→explode→md5 scan on both sides (measured 3x the cost at
    # sf0.1); here every gram row is shuffled exactly once. Distinct-doc
    # count rides a dense_rank (windows don't take count(DISTINCT)).
    from pyspark.sql import Window

    by_gram = Window.partitionBy("gram_md5")
    ranked = Window.partitionBy("gram_md5").orderBy("doc_id")
    return (
        grams.withColumn("__rk", F.dense_rank().over(ranked))
        .withColumn("n_docs", F.max("__rk").over(by_gram).cast("int"))
        .withColumn("n_occurrences", F.count(F.lit(1)).over(by_gram).cast("int"))
        .filter(F.col("n_docs") >= min_docs)
        .select("doc_id", "pos", "gram_md5", "n_docs", "n_occurrences")
    )


def duplicate_span_coverage(
    documents: DataFrame, *, k: int = 8, min_docs: int = 2
) -> DataFrame:
    """Per-document duplicated-span coverage: how many token positions sit
    inside at least one cross-document duplicate k-gram, and the fraction
    of the document that is — the actionable 'how much of this doc is
    boilerplate' signal that decides span removal vs doc drop. The
    interval union is computed exactly (distinct covered positions after
    a k-wide explode; k is a small constant)."""
    spans = duplicate_span_positions(documents, k=k, min_docs=min_docs)
    covered = spans.select(
        "doc_id",
        F.explode(F.sequence("pos", F.col("pos") + (k - 1))).alias("p"),
    ).distinct()
    cov = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dup_positions")
    )
    base = documents.select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("int").alias("n_tokens")
    )
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_positions", F.lit(0)).cast("int").alias("dup_positions"),
        (F.coalesce("dup_positions", F.lit(0)) / F.col("n_tokens")).alias(
            "dup_fraction"
        ),
    )


def passage_dedup_stats(
    documents: DataFrame, *, tokens_per_passage: int = 32
) -> DataFrame:
    """EXACT passage-granularity deduplication (the RefinedWeb/FineWeb
    preprocessing stage between span detection and whole-doc dropping):
    documents split into fixed 32-token passages, each passage md5-keyed,
    and duplicates resolved KEEP-FIRST globally — the canonical occurrence
    is the minimum (doc_id, passage_id). Emits the per-document retention
    accounting that decides how much of each doc survives passage dedup.

    Scale shape: one narrow pass emits (digest, doc, passage) — constant-
    width md5 keys, never passage text — then ONE digest-keyed window
    picks winners and one doc aggregation folds the stats. Same
    single-shuffle discipline as duplicate_span_positions."""
    from pyspark.sql import Window

    p = tokens_per_passage
    toks = tokens_col(F.col("text"))
    n_pass = F.ceil(F.size("t") / F.lit(p)).cast("int")
    passages = (
        sizing.fan_out(
            documents.select("doc_id", "text"),
            rows_per_task=EXPAND_ROWS_PER_TASK,
        )
        .select("doc_id", toks.alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_pass - 1),
                    lambda i: F.struct(
                        i.cast("int").alias("passage_id"),
                        F.md5(
                            F.concat_ws(" ", F.slice("t", i * p + 1, F.lit(p)))
                        ).alias("digest"),
                        F.least(F.lit(p), F.size("t") - i * p)
                        .cast("int")
                        .alias("n_tokens"),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", "s.passage_id", "s.digest", "s.n_tokens")
    )
    w = Window.partitionBy("digest").orderBy("doc_id", "passage_id")
    kept = passages.withColumn("rn", F.row_number().over(w))
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_passages"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("int")
        .alias("kept_passages"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_tokens")).otherwise(0))
        .cast("int")
        .alias("kept_tokens"),
    )


# ---------------------------------------------------------------------------
# Feature-hashed document embeddings (the hashing trick)
# ---------------------------------------------------------------------------


def hash_embed(
    documents: DataFrame,
    *,
    dim: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Model-free document embeddings via the hashing trick (Weinberger
    et al., ICML 2009 — public method, independently implemented): every
    token maps to a bucket by md5 and a deterministic ±1 sign by a second
    digest nibble; the document vector is the signed bucket-count
    histogram, L2-normalized. Bridges the raw corpus into the embedding
    operators (LSH/IVF/PQ near-dup + ANN) when no learned encoder exists
    — the classic cheap-embedding stage of a training-data pipeline.

    Scale shape: explode → ONE map-side-combined groupBy(doc, bucket)
    carrying two longs per (doc, bucket) — the shuffle is sparse
    term-partial-sized, never text — then map_from_entries + a
    sequence() densification per doc (narrow). All Catalyst; md5 bucket
    and sign arithmetic reproduce bit-for-bit in DuckDB, and the only
    float ops (count normalization) are fixed-order, so the rounded
    vector is exactly oracle-able."""
    toks = tokens_col(F.col(text_col))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 7), 16, 10).cast("long")
    sign = F.when(
        F.conv(F.substring(F.md5(F.col("tok")), 8, 1), 16, 10) % 2 == 0, 1
    ).otherwise(-1)
    per_bucket = (
        documents.select("doc_id", F.explode(toks).alias("tok"))
        .filter(F.length("tok") > 0)
        .select("doc_id", (h % dim).alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").alias("w"))
    )
    dense = per_bucket.groupBy("doc_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("bucket", "w")))
        ).alias("m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("m"), i.cast("long")), F.lit(0)
        ).cast("double"),
    )
    norm = F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    unit = F.transform(
        vec, lambda v: F.round(v / F.greatest(norm, F.lit(1e-12)), 6)
    )
    return dense.select("doc_id", unit.alias("embedding"))


def stratified_sample_ranked(
    df: DataFrame,
    *,
    strata_col: str = "source",
    id_col: str = "doc_id",
    n_per_stratum: int = 50,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic stratified sample with an explicit rank column — the
    uniform-n, SALTED sibling of ``stratified_sample`` above (that one
    takes per-stratum quota dicts over a bare md5(id) order; this one
    draws the same n everywhere, emits ``sample_rank`` so downstream
    stages can sub-slice without re-ranking, and salts the hash so a
    pipeline can re-roll the draw without touching the data). No RNG in
    the plan: every engine, run, and data order draws the SAME sample,
    and because each row's hash is independent of the others, growing a
    stratum only ever displaces the highest-ranked members — the sample
    is stable under corpus growth the same way hash_split is.

    Shape: one narrow hash projection, one shuffle by stratum for the
    rank window. Skew is bounded by the stratum layout itself (a window
    over the natural strata — the same discipline as shuffle_shard's
    per-shard ranks); n is assumed << stratum size, so the emitted
    sample is tiny relative to the scan."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy(strata_col).orderBy(F.col("__h").asc(), F.col(id_col).asc())
    return (
        df.select(id_col, strata_col, h.alias("__h"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
        .select(
            id_col,
            strata_col,
            F.col("sample_rank").cast("int").alias("sample_rank"),
        )
    )


def term_postings(
    documents: DataFrame,
    terms: list[str],
    *,
    n_shards: int = 4,
) -> DataFrame:
    """Inverted-index build for a term dictionary — the serving artifact
    behind keyword_bm25's scoring: per (term, shard) posting lists of
    ``doc_id:position`` entries, plus document and occurrence counts.
    Postings are SHARDED by doc-id range (``doc_id % n_shards``) so a
    hot term's list is bounded per group and shards merge by
    concatenation — the layout a 100 TB index actually stores (posting
    lists are written per doc-range segment, never one row per term).

    Shape: tokenize + posexplode (narrow), filter against the bounded
    dictionary (literal IN — no join), one groupBy (term, shard). The
    postings string is ordered by (doc_id, pos), so it is deterministic
    under any partitioning."""
    return postings_from_hits(term_hits(documents, terms), n_shards=n_shards)


def term_hits(documents: DataFrame, terms: list[str]) -> DataFrame:
    """The STATELESS stage of the index build — (doc_id, pos, term) hits
    for the dictionary terms. Narrow (tokenize + posexplode + literal
    IN), so it runs identically over a batch frame or a file-replayed
    stream (append mode emits exactly the batch hit set — the
    batch≡stream property streaming_postings_ingest checks)."""
    return documents.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("pos", "term"),
    ).filter(F.col("term").isin(terms))


def postings_from_hits(toks: DataFrame, *, n_shards: int = 4) -> DataFrame:
    """Resolution stage: hits → sharded posting lists (see
    ``term_postings``). Reads either the batch hit frame or a drained
    streaming hit table."""
    entry = F.struct(F.col("doc_id"), F.col("pos"))
    return (
        toks.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(n_shards)))
        .groupBy("term", "shard")
        .agg(
            F.countDistinct("doc_id").cast("double").alias("df_docs"),
            F.count(F.lit(1)).cast("double").alias("n_occurrences"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(entry)),
                    lambda s: F.concat_ws(":", s.doc_id, s.pos),
                ),
            ).alias("postings"),
        )
        .select(
            "term",
            F.col("shard").cast("int").alias("shard"),
            "df_docs",
            "n_occurrences",
            "postings",
        )
    )


def chunk_tokens_sliding(
    documents: DataFrame,
    *,
    chunk_size: int = 256,
    stride: int = 192,
) -> DataFrame:
    """Sliding-window document chunking with overlap — the standard LLM
    ingestion shape (RAG indexing / long-doc training keeps
    ``chunk_size - stride`` tokens of context between consecutive
    chunks). Chunk k starts at ``k * stride``; the window count is
    ``1 + ceil(max(n - chunk_size, 0) / stride)`` so the final window
    always reaches the document's end exactly once.

    Same scale shape as chunk_tokens: ENTIRELY narrow — descriptors are
    arithmetic over the row's own token array, inline-exploded, no
    shuffle at any corpus size, and the chunk text is deliberately not
    materialized (start/count/first/last address it)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = documents.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    cs, st = F.lit(chunk_size), F.lit(stride)
    n_chunks = (
        F.lit(1)
        + F.ceil(F.greatest(n - cs, F.lit(0)) / st).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            (i * st).cast("int").alias("start_token"),
            F.least(cs, n - i * st).cast("int").alias("n_tokens"),
            F.element_at("toks", (i * st + 1).cast("int")).alias("first_token"),
            F.element_at(
                "toks", F.least(i * st + cs, n).cast("int")
            ).alias("last_token"),
        ),
    )
    return base.select("doc_id", F.inline(chunks))


def tfidf_top_terms(documents: DataFrame, *, k: int = 3) -> DataFrame:
    """Per-document top-k keyword extraction by TF-IDF over the FULL
    vocabulary — the unsupervised tagging step of a corpus pipeline
    (keyword_bm25 scores a fixed literal query list; this ranks every
    term a document contains).

    idf uses the rational Robertson form (N - df + 0.5)/(df + 0.5)
    WITHOUT the log, for the same reason bm25_scores does: log() is not
    correctly-rounded-identical across engines, +,-,*,/ are — and log is
    monotone, so per-document rank order is unchanged. The score is
    tf * idf evaluated in ONE fixed expression order, bit-identical
    anywhere; within-document ties (equal (tf, df)) break on term asc.

    Scale shape: explode → (doc, term) tf groupBy (the corpus token
    shuffle every index build pays once), a bytes-per-term df aggregate
    joined back (shuffle on term, same as the postings index), and the
    top-k window partitioned BY DOCUMENT — thousands of small partitions,
    never a global sort."""
    toks = tokens_col(F.col("text"))
    tok = documents.select("doc_id", F.explode(toks).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfr, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("double").alias("tf_d"),
            F.col("df").cast("double").alias("df_d"),
            "tfidf",
            "rnk",
        )
    )


def priority_sample(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    k: int = 200,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sample without replacement of size k —
    priority sampling (Duffield, Lund & Thorup 2007): each row gets
    priority w / u with u uniform on (0, 1], the k largest priorities
    win; inclusion probability is proportional to weight for the
    non-extreme mass.

    u is the content-free md5 bucket ((h+1) / 2^28, the corpus_hash_split
    idiom) — no RNG in the plan, so the sample is identical on every
    engine, run, and partitioning; re-salting redraws it. Priority is
    w * 2^28 / (h+1): one exact long product cast to double, one
    correctly-rounded division — bit-stable. pow()/log() (the classic
    A-ES exponential-key formulation) are deliberately avoided: they are
    not correctly-rounded cross-engine, priority sampling needs neither.

    Scale shape: a narrow per-row expression, then orderBy(...).limit(k)
    — Spark plans TakeOrderedAndProject (per-partition top-k, driver
    merges k rows). No global sort, no window, no shuffle of the
    corpus."""
    h = _hash_bucket(F.col(id_col), salt=salt, mod=1 << 28)
    pri = (F.col(weight_col) * F.lit(1 << 28)).cast("double") / (
        h + F.lit(1)
    ).cast("double")
    return (
        df.select(
            id_col,
            F.col(weight_col).cast("double").alias(f"{weight_col}_d"),
            pri.alias("priority"),
        )
        .orderBy(F.col("priority").desc(), F.col(id_col).asc())
        .limit(k)
    )


def rrf_hybrid_topk(
    documents: DataFrame,
    terms: tuple[str, ...] = ("spark", "window", "join"),
    *,
    dim: int = 64,
    k_rrf: int = 60,
    list_n: int = 20,
    k: int = 10,
) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack, Clarke &
    Buettcher, SIGIR 2009): fuse a LEXICAL ranking and a SEMANTIC
    ranking of the corpus for one query, the standard first stage of a
    production RAG serving path (BM25 + dense retriever -> RRF -> k).

    Engine-exactness discipline: both input rankings are PURE-INTEGER
    orders. The lexical list ranks by total query-term frequency
    (ties: shorter doc, then doc_id); the semantic list ranks by the
    integer dot product between the query's signed hash-embedding
    buckets and each document's UNnormalized signed bucket counts (the
    hash_embed integer layer, before L2 normalization — same md5 bucket
    and sign arithmetic, so it composes with the verified hash-embed
    oracle). RRF itself runs in integer micro-units:
    1_000_000 div (k_rrf + rank), summed over the lists that contain
    the document — no float anywhere, so the fusion is bit-exact on any
    engine and any partitioning.

    Scale shape: per-list candidates are cut with orderBy().limit(n)
    (TakeOrderedAndProject — per-partition top-n, driver merges n rows;
    no global sort window), exactly how serving systems truncate
    retrieval lists. Ranks are then attached on the n-row results and
    fused with a broadcast-sized full outer join. The only corpus-wide
    shuffles are the two sparse integer aggregations (term tf, bucket
    weights)."""
    toks = tokens_col(F.col("text"))
    base = documents.select(
        "doc_id", toks.alias("t"), F.size(toks).alias("dl")
    )

    # lexical: total tf of the query terms per doc
    per = (
        base.select(
            "doc_id",
            "dl",
            F.explode(F.array(*[F.lit(t) for t in terms])).alias("term"),
            "t",
        )
        .select(
            "doc_id",
            "dl",
            F.size(
                F.filter(F.col("t"), lambda x: x == F.col("term"))
            ).alias("tf"),
        )
        .filter(F.col("tf") > 0)
    )
    lex = per.groupBy("doc_id").agg(
        F.sum("tf").alias("tot"), F.first("dl").alias("dl")
    )
    lex_top = lex.orderBy(
        F.col("tot").desc(), F.col("dl").asc(), F.col("doc_id").asc()
    ).limit(list_n)
    w_lex = (
        lex_top.coalesce(1)
        .sortWithinPartitions(
            F.col("tot").desc(), F.col("dl").asc(), F.col("doc_id").asc()
        )
        .select(
            "doc_id",
            (F.monotonically_increasing_id() + 1).alias("r_lex"),
        )
    )

    # semantic: integer signed-bucket dot product with the query tokens
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 7), 16, 10).cast("long")
    sign = F.when(
        F.conv(F.substring(F.md5(F.col("tok")), 8, 1), 16, 10) % 2 == 0, 1
    ).otherwise(-1)
    pb = (
        documents.select("doc_id", F.explode(toks).alias("tok"))
        .filter(F.length("tok") > 0)
        .select("doc_id", (h % dim).alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").alias("w"))
    )
    q = (
        documents.sparkSession.createDataFrame(
            [(t,) for t in terms], "tok string"
        )
        .select((h % dim).alias("bucket"), sign.alias("qs"))
    )
    sem = (
        pb.join(F.broadcast(q), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("qs") * F.col("w")).alias("score"))
    )
    sem_top = sem.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(list_n)
    w_sem = (
        sem_top.coalesce(1)
        .sortWithinPartitions(F.col("score").desc(), F.col("doc_id").asc())
        .select(
            "doc_id",
            (F.monotonically_increasing_id() + 1).alias("r_sem"),
        )
    )

    fused = w_lex.join(w_sem, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_sem",
        (
            F.coalesce(
                F.expr(f"1000000L div ({k_rrf} + r_lex)"), F.lit(0).cast("long")
            )
            + F.coalesce(
                F.expr(f"1000000L div ({k_rrf} + r_sem)"), F.lit(0).cast("long")
            )
        ).alias("rrf"),
    )
    top = fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(k)
    return (
        top.coalesce(1)
        .sortWithinPartitions(F.col("rrf").desc(), F.col("doc_id").asc())
        .select(
            "doc_id",
            F.col("r_lex").cast("double").alias("r_lex_d"),
            F.col("r_sem").cast("double").alias("r_sem_d"),
            F.col("rrf").cast("double").alias("rrf_micro_d"),
            (F.monotonically_increasing_id() + 1).cast("int").alias("rnk"),
        )
    )


RAKE_STOPWORDS = (
    "the", "a", "an", "and", "of", "in", "to", "is", "for", "on",
    "with", "at", "by", "it", "as", "be", "are", "was", "that", "this",
)


def rake_keyphrases(
    documents: DataFrame,
    *,
    top_n: int = 3,
    max_words: int = 4,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010):
    candidate phrases are the maximal stopword-delimited token runs (up
    to ``max_words`` words); each word scores deg/freq where freq is
    its occurrence count across the document's phrase occurrences and
    deg additionally credits the length of every phrase it appears in;
    a phrase scores the sum of its word scores. The classic zero-model
    keyword extractor of a curation pipeline (alongside tf-idf and
    BM25), here per document.

    Engine-exactness: word scores run in integer micro-units —
    (deg * 1e6) div freq, both positive BIGINTs — and phrase scores are
    sums of those integers, so ranking ties break identically and the
    whole extraction is bit-exact cross-engine (the doc_quality_score
    lesson: never sum 6dp-rounded floats).

    Scale shape: phrase segmentation is a narrow per-row regex split;
    the two aggregates shuffle on (doc, word) / (doc, phrase) — sparse
    and key-partitioned; the top-``top_n`` rank window partitions BY
    DOCUMENT (never global)."""
    pat = r"\b(?:" + "|".join(RAKE_STOPWORDS) + r")\b"
    ph = (
        documents.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), pat)).alias(
                "rawseg"
            ),
        )
        .select(
            "doc_id",
            F.regexp_replace(F.trim(F.col("rawseg")), r"\s+", " ").alias(
                "phrase"
            ),
        )
        .where(F.length("phrase") > 0)
        .withColumn("plen", F.size(F.split(F.col("phrase"), " ")))
        .where(F.col("plen") <= max_words)
    )
    pw = ph.select(
        "doc_id",
        "plen",
        F.explode(F.split(F.col("phrase"), " ")).alias("word"),
    )
    wsc = (
        pw.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
        .select(
            "doc_id",
            "word",
            F.expr("(deg * 1000000L) div freq").alias("wscore"),
        )
    )
    dp = ph.select("doc_id", "phrase", "plen").distinct()
    dpw = dp.select(
        "doc_id",
        "phrase",
        "plen",
        F.explode(F.split(F.col("phrase"), " ")).alias("word"),
    )
    ps = dpw.join(wsc, ["doc_id", "word"]).groupBy("doc_id", "phrase").agg(
        F.first("plen").alias("n_words"),
        F.sum("wscore").alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("phrase").asc()
    )
    return (
        ps.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_n)
        .select(
            "doc_id",
            "phrase",
            F.col("n_words").cast("int").alias("n_words"),
            F.col("score_micro").cast("double").alias("score_micro_d"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def winnowing_pairs(
    documents: DataFrame,
    *,
    k: int = 3,
    w: int = 4,
    min_shared: int = 3,
    df_cap: int = 50,
) -> DataFrame:
    """Near-duplicate pairs by WINNOWING fingerprints (Schleimer, Wilkerson
    & Aiken, SIGMOD 2003 — the MOSS algorithm): hash every k-gram shingle,
    keep the minimum hash of each sliding window of ``w`` consecutive
    k-grams, and report document pairs sharing >= ``min_shared`` distinct
    fingerprints. Winnowing guarantees every sufficiently long shared
    substring leaves at least one shared fingerprint (the (k+w-1)-gram
    guarantee), making it position-robust where plain k-min sketches are
    not — the classic plagiarism/exact-excerpt detector beside MinHash
    (whole-doc resemblance) and containment (asymmetric excerpts).

    Deviation from the paper: fingerprints are VALUE-deduplicated per
    document and ties take the plain window min (not rightmost-position)
    — positions are not retained, which only densifies the guarantee.

    Engine-exactness: the md5-28bit shingle hash idiom; window minima
    are per-row array arithmetic. Scale shape: the per-doc fingerprint
    set is a narrow map; the pair generation is an inverted-index
    equi-join on fingerprint with hub fingerprints (df > ``df_cap``)
    removed first — the link-prediction hub discipline, so no
    quadratic blowup on boilerplate."""
    toks = tokens_col(F.col("text"))
    sh = shingles(toks, k)
    hs = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")
        % F.lit(1 << 28),
    )
    hcol = F.col("hs")
    # Explode the window STARTS, then take each window's min: exploding
    # an array of minima lets Catalyst infer size(fps) > 0 and push it
    # below the Project, which inlines the md5 shingle hash into the
    # window-min lambda once per window (O(n^2) md5 per document).
    per_doc = (
        documents.select("doc_id", hs.alias("hs"))
        .where(F.size(hcol) >= w)
        .select(
            "doc_id", "hs",
            F.explode(F.sequence(F.lit(1), F.size(hcol) - (w - 1))).alias("i"),
        )
        .select("doc_id", F.array_min(F.slice(hcol, F.col("i"), w)).alias("fp"))
        .distinct()
        # read twice below (df_tbl + kept): materialize so the md5
        # shingle-hash + window-min fingerprinting runs once
        .transform(sizing.materialize, "winnowing fingerprints, read twice")
    )
    df_tbl = per_doc.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    kept = per_doc.join(
        F.broadcast(df_tbl.where(F.col("df") <= df_cap)), "fp"
    ).select("doc_id", "fp")
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("double").alias("n_shared_d"),
        )
    )

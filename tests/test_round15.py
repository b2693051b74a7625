"""Round-15 optimization guards: parity pins for the row-local
repetition-stats kernel and the one-pass classification report, plus the
DBSCAN foreign-endpoint mask and the kmeans ragged-frame gate (ADVICE
r14)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streaming_ml_with_ksql_spark.operators import clustering, text
from tests.routes import DBSCAN_BOUNDS, has_kernel, kernel_and_distributed


EDGE_DOCS = [
    (1, "alpha beta alpha beta alpha"),
    (2, "single"),
    (3, ""),                      # split('') -> [''] (one empty token)
    (4, None),                    # NULL text -> NULL token array -> dropped
    (5, "x x x x x x"),
    (6, "a b c d e f g a b c"),
    (7, "☃ \U0001F600 ☃"),  # astral / BMP symbols
    (8, "tie tie breaker breaker"),
]


REP_STATS_ROUTE = [(text, "REP_STATS_ROW_LOCAL")]


def _rep_both(monkeypatch, df, **kw):
    """(kernel rows, relational rows) of ``repetition_stats(df, **kw)``."""
    fast, slow = kernel_and_distributed(
        monkeypatch, REP_STATS_ROUTE, lambda: text.repetition_stats(df, **kw)
    )
    return fast.collect(), slow.collect()


def _by_doc(rows):
    return {r["doc_id"]: tuple(r) for r in rows}


def test_repetition_stats_kernel_matches_relational_edge_docs(spark, monkeypatch):
    df = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    fast, slow = map(_by_doc, _rep_both(monkeypatch, df))
    assert fast == slow
    # NULL text vanishes on both paths (explode semantics)
    assert 4 not in fast


def test_repetition_stats_kernel_matches_relational_sf001(spark, monkeypatch):
    from streaming_ml_with_ksql_spark import io

    docs = io.load_table(spark, "/root/testdata/sf0.01", "documents")
    fast, slow = map(_by_doc, _rep_both(monkeypatch, docs))
    assert fast == slow and len(fast) == 500


def test_repetition_stats_kernel_null_token_elements(spark, monkeypatch):
    """A precomputed token array with NULL elements must group all NULLs
    as one term on both paths (pd.factorize use_na_sentinel=False)."""
    df = spark.createDataFrame(
        [(1, ["a", None, "a", None, None])],
        "doc_id long, t array<string>",
    )
    fast, slow = _rep_both(monkeypatch, df, tokens="t")
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]
    # 2 distinct terms: 'a' and NULL; max multiplicity 3 (the NULLs)
    assert fast[0]["distinct_word_frac"] == 0.4


def test_classification_report_one_pass_values(spark):
    from streaming_ml_with_ksql_spark.ml.metrics import classification_report

    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "a")],
        "lab string, prd string",
    )
    rows = {
        r["class"]: r
        for r in classification_report(df, "lab", "prd").collect()
    }
    assert set(rows) == {"a", "b", "c"}
    assert rows["a"]["n_true_d"] == 2.0 and rows["a"]["n_pred_d"] == 2.0
    assert rows["a"]["tp_d"] == 1.0 and rows["a"]["precision"] == 0.5
    assert rows["c"]["n_pred_d"] == 0.0 and rows["c"]["f1"] == 0.0


def test_dbscan_kernel_drops_foreign_edge_endpoints(spark, monkeypatch):
    """ADVICE r14: an eps-pair endpoint absent from the weight frame is
    dropped by the relational inner join; the kernel must do the same
    instead of attributing it to the lexically-next rep."""
    members = spark.createDataFrame(
        [(1, 1), (4, 1), (5, 1), (2, 2), (10, 10)],
        "vec_id long, rep long",
    )
    # edge (2,7): 7 is not a rep -> must be ignored entirely
    pairs = spark.createDataFrame(
        [(1, 2), (2, 7)], "vec_a long, vec_b long"
    )
    fast, slow = kernel_and_distributed(
        monkeypatch,
        DBSCAN_BOUNDS,
        lambda: clustering.dbscan_from_weighted_pairs(
            members, pairs, min_neighbors=2
        ),
    )
    fa = {r["vec_id"]: (r["role"], r["cluster_id"]) for r in fast.collect()}
    sl = {r["vec_id"]: (r["role"], r["cluster_id"]) for r in slow.collect()}
    assert fa == sl and set(fa) == {1, 4, 5, 2, 10}


def _minhash_both(monkeypatch, df, **kw):
    fast, slow = kernel_and_distributed(
        monkeypatch,
        [(text, "MINHASH_SINGLE_TASK_MAX_DOCS")],
        lambda: text.near_dup_pairs_minhash(df, **kw),
    )
    key = lambda r: (r["doc_a"], r["doc_b"])  # noqa: E731
    return (
        {key(r): r["jaccard"] for r in fast.collect()},
        {key(r): r["jaccard"] for r in slow.collect()},
    )


def test_minhash_single_task_matches_distributed_sf001(spark, monkeypatch):
    from streaming_ml_with_ksql_spark import io

    docs = io.load_table(spark, "/root/testdata/sf0.01", "documents")
    fast, slow = _minhash_both(monkeypatch, docs)
    assert fast == slow and len(fast) > 0


def test_minhash_single_task_matches_distributed_planted(spark, monkeypatch):
    """Planted near-dups + exact dups + disjoint docs; jaccard doubles
    must agree bitwise (the division/round run in Spark on both paths)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base + " one two three four five six seven eight nine ten"),
        (2, base + " one two three four five six seven eight nine zzz"),
        (3, base + " one two three four five six seven eight nine ten"),
        (4, "completely different text with no overlap at all here body"),
        (5, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast, slow = _minhash_both(monkeypatch, df)
    assert fast == slow and (1, 3) in fast and fast[(1, 3)] == 1.0


def test_minhash_gate_uses_row_bound(spark):
    """Unbounded input (rows can grow through a join) -> distributed;
    a small local frame -> kernel, with no hint from the caller."""
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    unbounded = df.join(df.select("doc_id"), "doc_id")
    assert not has_kernel(text.near_dup_pairs_minhash(unbounded))
    assert has_kernel(text.near_dup_pairs_minhash(df))


PLANTED_PAIR_DOCS = [
    (3, "a b c d e f g zz"),
    (7, "a b c d e f g h"),
    (9, "a b c d e f g h"),
    (11, "q r s t u v w x"),
    (12, "the quick brown fox jumps over the lazy dog again and again"),
    (13, "the quick brown fox jumps over the lazy dog again and again too"),
]


@pytest.mark.parametrize(
    "pairs",
    [
        text.near_dup_pairs_minhash,
        text.ngram_jaccard_pairs,
        text.ngram_containment_pairs,
    ],
)
def test_pair_kernels_send_string_ids_to_distributed(spark, pairs):
    """The doc-pair kernels read int64 doc ids: a small string-keyed
    corpus must take the distributed path, and give the integer kernel's
    pairs under the same (order-preserving) string keys."""
    ints = spark.createDataFrame(PLANTED_PAIR_DOCS, "doc_id long, text string")
    strs = ints.select(
        F.format_string("d%02d", "doc_id").alias("doc_id"), "text"
    )
    kernel = pairs(ints)
    assert has_kernel(kernel)
    auto = pairs(strs)
    assert not has_kernel(auto)
    expected = {
        (f"d{r['doc_a']:02d}", f"d{r['doc_b']:02d}"): tuple(r)[2:]
        for r in kernel.collect()
    }
    got = {(r["doc_a"], r["doc_b"]): tuple(r)[2:] for r in auto.collect()}
    assert got == expected and ("d07", "d09") in got


def _ngram_both(monkeypatch, df, pairs=text.ngram_jaccard_pairs):
    """{(doc_a, doc_b): other columns} of ``pairs(df)`` on the
    ngram_pairs kernel and on the index self-join."""
    fast, slow = kernel_and_distributed(
        monkeypatch,
        [(text, "NGRAM_PAIRS_SINGLE_TASK_MAX_DOCS")],
        lambda: pairs(df),
    )
    key = lambda r: (r["doc_a"], r["doc_b"])  # noqa: E731
    return (
        {key(r): tuple(r)[2:] for r in fast.collect()},
        {key(r): tuple(r)[2:] for r in slow.collect()},
    )


def test_ngram_pairs_single_task_matches_distributed_sf001(spark, monkeypatch):
    from streaming_ml_with_ksql_spark import io

    docs = io.load_table(spark, "/root/testdata/sf0.01", "documents")
    fast, slow = _ngram_both(monkeypatch, docs)
    assert fast == slow and len(fast) > 0


def test_ngram_pairs_single_task_planted(spark, monkeypatch):
    rows = [
        (7, "a b c d e f g h"),
        (3, "a b c d e f g zz"),   # high overlap with 7 (and id 3 < 7)
        (9, "a b c d e f g h"),    # exact dup of 7
        (11, "q r s t u v w x"),   # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast, slow = _ngram_both(monkeypatch, df)
    assert fast == slow and fast[(7, 9)] == (1.0,)


def test_containment_single_task_matches_distributed_sf001(spark, monkeypatch):
    from streaming_ml_with_ksql_spark import io

    docs = io.load_table(spark, "/root/testdata/sf0.01", "documents")
    fast, slow = _ngram_both(monkeypatch, docs, text.ngram_containment_pairs)
    assert fast == slow and len(fast) > 0


def test_containment_single_task_planted(spark, monkeypatch):
    source = " ".join(f"w{i}" for i in range(40))
    rows = PLANTED_PAIR_DOCS + [
        (20, source),
        (21, " ".join(f"w{i}" for i in range(10, 22))),  # excerpt of 20
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast, slow = _ngram_both(monkeypatch, df, text.ngram_containment_pairs)
    assert fast == slow
    # 10 of the excerpt's 10 shingles lie in the source's 38: the excerpt
    # is contained, the jaccard stays low
    assert fast[(20, 21)] == (263157, 1_000_000, 263157)
    assert fast[(7, 9)] == (1_000_000, 1_000_000, 1_000_000)


def test_kmeans_ragged_frame_falls_through_to_distributed(spark):
    """ADVICE r14: a ragged vector frame must not enter the single-task
    kernel (np.asarray would raise); the auto gate must pick the
    distributed loop and still converge."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = clustering.kmeans_fixed_point(df, k=2, iters=1)
    assert out.count() == 3

"""North-star operator surface vs DuckDB oracle: text analysis, dedup
families, embedding similarity (SURVEY.md Phase 4 / BASELINE.json)."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from tests.oracle import assert_query_matches
from tests.routes import cc_runs, kernel_and_distributed

NORTHSTAR_ORACLED = [
    "text_stats",
    "lang_id",
    "doc_fingerprint",
    "dedup_exact_events",
    "minhash_near_dup_pairs",
    "ngram_jaccard_pairs",
    "dedup_near_minhash",
    "simhash_near_dup_pairs",
    "embedding_topk_bruteforce",
    "embedding_near_dup_pairs",
    "word_count_topk",
    "minhash_signatures",
    "simhash_fingerprints",
    "multimodal_frame_sample",
    "lang_id_ngram",
    "corpus_sample_mix",
    "token_budget",
    "embedding_near_dup_pairs_lsh",
    "dedup_components",
    "repetition_stats",
    "benchmark_decontaminate",
    "embedding_quantize_int8",
    "ngram_jaccard_pairs_prefix",
    "corpus_hash_split",
    "corpus_shuffle_shard",
    "keyword_bm25",
    # round-3 additions
    "ngram_lm_score",
    "embedding_dedup_groups",
    "multimodal_audio_decode",
    "multimodal_image_decode",
    # round-4 additions
    "dedup_components_star",
    "multimodal_mp4_decode",
    "multimodal_mixed_container_sample",
    "multimodal_jpeg_decode",
    "duplicate_span_positions",
    "duplicate_span_coverage",
    "passage_dedup_stats",
    "corpus_bpe_pack",
]


@pytest.mark.parametrize("name", NORTHSTAR_ORACLED)
@pytest.mark.sweep
def test_query_matches_oracle(spark, sf_medium, name):
    assert_query_matches(spark, name, sf_medium)


def test_connected_components_chain_and_singletons(spark):
    """Chain graph is the propagation worst case (diameter = n-1): a 9-hop
    chain must collapse to one component labeled by its min id; vertices
    with no edges stay singleton components of themselves."""
    from streaming_ml_with_ksql_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(2, 11)], "src long, dst long"
    )
    vertices = spark.createDataFrame([(i,) for i in range(15)], "id long")
    comp = {
        r.id: r.component
        for r in graph.connected_components(edges, vertices).collect()
    }
    assert all(comp[i] == 2 for i in range(2, 12))
    assert all(comp[i] == i for i in (0, 1, 12, 13, 14))


def test_connected_components_long_chain_through_the_loop(
    spark, monkeypatch, caplog
):
    """A 60-vertex chain on the distributed route is one component
    labelled 0: a long chain is the worst case for a loop whose rounds
    grow with the diameter, and a round cap must never pass a partial
    labelling off as components."""
    from streaming_ml_with_ksql_spark.operators import graph

    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    monkeypatch.setattr(graph, "CC_SINGLE_TASK_MAX_EDGES", 0)
    with caplog.at_level(logging.INFO, logger=graph.__name__):
        comp = graph.connected_components(edges, vertices)
    assert sorted(map(tuple, comp.collect())) == [(i, 0) for i in range(n)]
    ((path, rounds),) = cc_runs(caplog)
    assert path == "star" and 1 <= rounds < graph.CC_MAX_ROUNDS


def test_star_contraction_logarithmic_rounds_and_parity(
    spark, monkeypatch, caplog
):
    """Large-star/small-star must (a) collapse an adversarial 600-vertex
    path in O(log d) rounds — far under the diameter that min-label
    propagation would need — and (b) agree with the single-task
    union-find kernel label-for-label on a random graph with self-loops,
    parallel edges and singletons."""
    import random

    from streaming_ml_with_ksql_spark.operators import graph

    n = 600
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    with monkeypatch.context() as m:
        m.setattr(graph, "CC_SINGLE_TASK_MAX_EDGES", 0)
        with caplog.at_level(logging.INFO, logger=graph.__name__):
            comp = graph.connected_components(edges, vertices)
    assert comp.filter(F.col("component") != 0).count() == 0
    ((path, rounds),) = cc_runs(caplog)
    assert path == "star" and rounds <= 16  # ~2*log2(600); propagation needs 599

    random.seed(7)
    ee = [(random.randrange(80), random.randrange(80)) for _ in range(120)]
    edges2 = spark.createDataFrame(ee + [(5, 5)], "src long, dst long")
    verts2 = spark.createDataFrame([(i,) for i in range(100)], "id long")
    kernel, star = kernel_and_distributed(
        monkeypatch,
        [(graph, "CC_SINGLE_TASK_MAX_EDGES")],
        lambda: graph.connected_components(edges2, verts2),
    )
    assert sorted(map(tuple, kernel.collect())) == sorted(
        map(tuple, star.collect())
    )


def test_connected_components_string_ids_fast_path_parity(spark, monkeypatch):
    """String-vertex graphs (the part_entity_groups contract) must work on
    the single-task fast path — r14's first kernel hard-coded int ids and
    crashed the full driver sweep on 'large ring' — and agree label-for-
    label with the distributed star loop (min label = lexicographic min,
    the same order Spark F.min and DuckDB min apply)."""
    from streaming_ml_with_ksql_spark.operators import graph

    edges = spark.createDataFrame(
        [("large ring", "large rind"), ("large rind", "aqua ring"),
         ("zinc plate", "zinc plait")],
        "src string, dst string",
    )
    verts = spark.createDataFrame(
        [("large ring",), ("large rind",), ("aqua ring",),
         ("zinc plate",), ("zinc plait",), ("lone part",)],
        "id string",
    )
    fast, loop = kernel_and_distributed(
        monkeypatch,
        [(graph, "CC_SINGLE_TASK_MAX_EDGES")],
        lambda: graph.connected_components(edges, verts),
    )
    fast = sorted(map(tuple, fast.collect()))
    assert fast == sorted(map(tuple, loop.collect()))
    lab = dict(fast)
    assert lab["large ring"] == "aqua ring"  # lexicographic min of the chain
    assert lab["zinc plait"] == "zinc plait" and lab["zinc plate"] == "zinc plait"
    assert lab["lone part"] == "lone part"


def test_minhash_finds_planted_near_dups(spark, sf_medium):
    """The testdata plants ~0.99-jaccard pairs; LSH must surface them."""
    from streaming_ml_with_ksql_spark import registry

    pairs = registry._REGISTRY["minhash_near_dup_pairs"].spark(spark, sf_medium)
    assert pairs.count() > 0


def test_token_counts_budget_consistency(spark, sf_medium):
    """Token budget invariants: subword tokens >= whitespace tokens (every
    whitespace run yields >= 1 subword token), doc totals conserve, avg is
    exactly sum/docs."""
    from pyspark.sql import functions as F

    from streaming_ml_with_ksql_spark import io as io_mod
    from streaming_ml_with_ksql_spark.operators import text

    docs = io_mod.load_table(spark, sf_medium, "documents")
    out = text.token_counts(docs).cache()
    assert out.filter(F.col("subword_tokens") < F.col("ws_tokens")).count() == 0
    assert out.agg(F.sum("n_docs")).collect()[0][0] == docs.count()
    bad_avg = out.filter(
        F.abs(
            F.col("avg_subword_tokens")
            - F.round(F.col("subword_tokens") / F.col("n_docs"), 4)
        )
        > 1e-12
    )
    assert bad_avg.count() == 0
    out.unpersist()


def test_ngram_jaccard_keeps_pairs_at_an_exact_threshold(spark, monkeypatch):
    """J = 55/100 at threshold 0.55 sits exactly on the threshold, where
    a double bound drops pairs (0.55 * 100 is 55.00000000000001): the
    kernel route and the index self-join both keep the pair."""
    from streaming_ml_with_ksql_spark.operators import text

    toks = [f"w{i}" for i in range(102)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, " ".join(toks[-57:]))],
        "doc_id long, text string",
    )
    for t in (0.5, 0.55):
        kernel, index = kernel_and_distributed(
            monkeypatch,
            [(text, "NGRAM_PAIRS_SINGLE_TASK_MAX_DOCS")],
            lambda: text.ngram_jaccard_pairs(docs, threshold=t),
        )
        assert [tuple(r) for r in kernel.collect()] == [(1, 2, 0.55)], t
        assert [tuple(r) for r in index.collect()] == [(1, 2, 0.55)], t


def test_hash_split_stable_under_corpus_growth(spark, sf_small, sf_medium):
    """The property that keeps eval sets uncontaminated as the corpus
    grows: a doc's split assignment depends only on (id, salt), so the
    sf0.001 corpus's assignments are a strict subset of sf0.01's."""
    from streaming_ml_with_ksql_spark import io as io_mod
    from streaming_ml_with_ksql_spark.operators import text

    small = {
        r.doc_id: r.split
        for r in text.hash_split(
            io_mod.load_table(spark, sf_small, "documents")
        ).collect()
    }
    big = {
        r.doc_id: r.split
        for r in text.hash_split(
            io_mod.load_table(spark, sf_medium, "documents")
        ).collect()
    }
    assert small and all(big[k] == v for k, v in small.items())
    # All three splits materialize at 500 docs, in roughly 80/10/10.
    from collections import Counter

    frac = Counter(big.values())
    assert 0.7 < frac["train"] / len(big) < 0.9
    assert frac["val"] > 0 and frac["test"] > 0


def test_shuffle_shard_is_a_total_order(spark, sf_medium):
    """(shard, pos) must be a bijection onto the corpus: every doc gets
    exactly one address, and each shard's positions are contiguous 1..n."""
    from pyspark.sql import functions as F

    from streaming_ml_with_ksql_spark import io as io_mod
    from streaming_ml_with_ksql_spark.operators import text

    docs = io_mod.load_table(spark, sf_medium, "documents")
    out = text.shuffle_shard(docs).cache()
    n = docs.count()
    assert out.count() == n
    assert out.select("shard", "pos_in_shard").distinct().count() == n
    per_shard = out.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"), F.max("pos_in_shard").alias("mx")
    )
    assert per_shard.filter(F.col("n") != F.col("mx")).count() == 0
    out.unpersist()


def test_pagerank_single_task_matches_distributed_loop(spark, monkeypatch):
    """r14 fast path: the one-Arrow-task integer PageRank kernel must
    reproduce the distributed per-round loop rank-for-rank (both are
    exact BIGINT arithmetic, so equality is bitwise). Graph: two rings
    joined by a bridge plus a self-loop and a duplicate pair (the loop's
    symmetrize+distinct must be replayed identically)."""
    from streaming_ml_with_ksql_spark.operators import graph

    pairs = [(i, (i + 1) % 7) for i in range(7)]
    pairs += [(10 + i, 10 + (i + 1) % 5) for i in range(5)]
    pairs += [(3, 12), (4, 4), (0, 1)]  # bridge, self-loop, duplicate
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    fast, loop = kernel_and_distributed(
        monkeypatch,
        [(graph, "ITER_SINGLE_TASK_MAX_EDGES")],
        lambda: graph.pagerank(df, iters=6),
    )
    fast = sorted(map(tuple, fast.collect()))
    assert fast == sorted(map(tuple, loop.collect()))
    assert len(fast) == 12


def test_pagerank_single_task_string_ids(spark, monkeypatch):
    """The textrank word-graph contract: string vertices must ride the
    fast path and agree with the distributed loop."""
    from streaming_ml_with_ksql_spark.operators import graph

    df = spark.createDataFrame(
        [("alpha", "beta"), ("beta", "gamma"), ("gamma", "alpha"),
         ("delta", "beta")],
        "w1 string, w2 string",
    )
    fast, loop = kernel_and_distributed(
        monkeypatch,
        [(graph, "ITER_SINGLE_TASK_MAX_EDGES")],
        lambda: graph.pagerank(df, a_col="w1", b_col="w2", iters=6),
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, loop.collect()))


def test_bfs_hops_single_task_matches_distributed_loop(spark, monkeypatch):
    """r14 fast path: the min-propagation kernel must reproduce the
    distributed loop including NULLs for vertices unreached within
    ``iters`` (chain longer than the horizon) and the seed set
    (id % seed_mod == 0)."""
    from streaming_ml_with_ksql_spark.operators import graph

    # seed 0; chain 0-1-2-...-8 (7,8 beyond 4 hops -> NULL); island 21-22
    pairs = [(i, i + 1) for i in range(8)] + [(21, 22)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    fast, loop = kernel_and_distributed(
        monkeypatch,
        [(graph, "ITER_SINGLE_TASK_MAX_EDGES")],
        lambda: graph.bfs_hops(df, seed_mod=10, iters=4),
    )
    fast = sorted(map(tuple, fast.collect()), key=lambda t: t[0])
    assert fast == sorted(map(tuple, loop.collect()), key=lambda t: t[0])
    d = dict(fast)
    assert d[0] == 0 and d[4] == 4
    assert d[7] is None and d[8] is None and d[21] is None


def test_hits_single_task_matches_distributed_loop(spark, monkeypatch):
    """r14 fast path: the HITS kernel (sum + integer rescale per round)
    must reproduce both score frames of the distributed rounds exactly,
    including the rescale divisor derived from the per-round max."""
    from streaming_ml_with_ksql_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 100), (1, 101), (1, 102), (2, 100), (2, 103), (3, 101),
         (4, 104)],
        "c long, p long",
    ).localCheckpoint(eager=True)
    (fh, fa), (lh, la) = kernel_and_distributed(
        monkeypatch,
        [(graph, "ITER_SINGLE_TASK_MAX_EDGES")],
        lambda: graph.hits_bipartite(edges, rounds=3),
    )
    assert sorted(map(tuple, fh.collect())) == sorted(map(tuple, lh.collect()))
    assert sorted(map(tuple, fa.collect())) == sorted(map(tuple, la.collect()))


def test_lang_id_ngram_regex_mode_matches_per_row_form(spark):
    """r14 fast path: the regexp_count trigram scorer must reproduce the
    per-row filter(array_contains) form row-for-row, including NULL text
    (scores 0.0, pred = first code — NOT NULL: the original's filter
    drops the NULL-predicate element), empty/whitespace/sub-trigram
    strings, dense overlapping grams, and astral-plane characters (regex
    empty-match advance must count code points like substring)."""
    from streaming_ml_with_ksql_spark.operators import text as text_ops

    rows = [
        (1, "en", None),
        (2, "en", ""),
        (3, "en", "  "),
        (4, "en", "ab"),
        (5, "en", "the quick brown fox and the lazy dog ing tion"),
        (6, "de", "der die und das ein sch ich nicht"),
        (7, "fr", "le la les des une est dans pour"),
        (8, "xx", "zzzz qqqq xxxx"),
        (9, "en", "ththththe thee ingingings"),
        (10, "en", "\U0001D11Ethe\U0001D11Eing and\U0001D11E"),
        (11, "de", " de der dede THE The the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    fast = sorted(
        map(tuple, text_ops.lang_id_ngram(df, regex_mode=True).collect())
    )
    slow = sorted(
        map(tuple, text_ops.lang_id_ngram(df, regex_mode=False).collect())
    )
    assert fast == slow
    null_row = fast[0]
    assert null_row[2:6] == (0.0, 0.0, 0.0, 0.0)
    assert null_row[6] is not None

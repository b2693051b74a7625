"""Driver-side .collect() whitelist (the 100 TB discipline VERDICT r8
audited by hand: "no .collect() in any hot path — all call sites are
bounded"). This pins that audit mechanically: every ``.collect()`` in
the package must appear in a function on the whitelist below, each with
a one-line bound argument (toPandas counts too). A new collect site fails this test until its
bound is argued here — the collect-loop regression guard, the
test_plan_lint of driver-side behavior."""

from __future__ import annotations

import ast
import pathlib

import streaming_ml_with_ksql_spark as pkg

# (relative path, function name) -> why its collect is driver-bounded.
# Keyed by file+function (ADVICE r9: a bare-name whitelist let any future
# same-named function in any module inherit e.g. "load"'s exemption).
COLLECT_WHITELIST: dict[tuple[str, str], str] = {
    # broadcast bitmap build: 64-bit words of a fixed-size bloom bitmap
    # (num_bits/64 rows, hyperparameter-bounded)
    ("operators/bloom.py", "build_bloom_words"): "num_bits/64 bitmap words",
    # BPE merge loop: limit(1) best pair per round (n_merges rounds)
    ("operators/bpe.py", "train_bpe"): (
        "limit(1) best-pair scalar per merge round"
    ),
    # PQ/IVF artifacts: codebook tiles and train samples are
    # hyperparameter-bounded (train_sample rows, ksub x m centroids)
    ("operators/similarity.py", "build_pq_index"): (
        "train_sample-row sample + ksub x m codebook"
    ),
    ("operators/similarity.py", "build_ivfpq_index"): (
        "train_sample-row sample + ksub x m codebook"
    ),
    ("operators/similarity.py", "load"): (
        "persisted codebook relation (ksub x m x d_sub rows)"
    ),
    ("operators/similarity.py", "pca_project"): (
        "train_sample-row sample for the fit"
    ),
    # exact fixed-point PCA: the dim^2 co-moment matrix is a model
    # artifact (64x64 = 4096 cells, bounded by dimension, not rows)
    ("registry/q08_tpchfull.py", "q_embedding_pca_project"): (
        "dim^2 co-moment cells (4096) for the driver-side power iteration"
    ),
    # wire codecs: schema/registry binds and capability probes (1 row);
    # decode reads a declared-bounded payload frame for cross-checks
    ("sources/avro.py", "avro_available"): "1-row capability probe",
    ("sources/avro_py.py", "decode_confluent"): (
        "schema-registry bind (schemas, not data)"
    ),
    ("sources/proto_py.py", "decode_confluent_proto"): (
        "schema bind (descriptors, not data)"
    ),
    # exact in-engine trainers: 1-row split/moment scalars per round,
    # dim-bounded weight vectors
    ("ml/linear.py", "gbdt_stump_rounds"): (
        "1-row moment + per-round best-split scalars"
    ),
    ("ml/linear.py", "gbdt_tree2_rounds"): (
        "1-row moment + per-node best-split scalars"
    ),
    ("ml/linear.py", "batch_perceptron_trajectory"): (
        "1-row dims scalar + dim-bounded w"
    ),
    ("ml/linear.py", "best_split"): (
        "1-row best-split scalar (gbdt inner search)"
    ),
    # registry queries (the full package is scanned, registry included)
    ("registry/q11_round7c.py", "q_decision_tree_depth2_events"): (
        "1-row fitted-root scalar"
    ),
    ("registry/q13_round7e.py", "q_conformal_forecast_interval"): (
        "1-row split-date scalar"
    ),
    ("registry/q04_streamksql.py", "_write_late_replay"): (
        "limit(2) late-event sample"
    ),
    # the package's single toPandas (VERDICT r8 audit): GEMM tile build
    ("operators/similarity.py", "embedding_near_dup_pairs_blocked"): (
        "tile-budget-bounded toPandas"
    ),
    # exact-oracle ANN family (r13): deterministic index training —
    # every collect is a model artifact bounded by hyperparameters,
    # never by corpus rows
    ("operators/annx.py", "_seed_vecs"): "limit(n<=16) md5-ranked seeds",
    ("operators/annx.py", "_lloyd_round_cells"): (
        "partitions x IVFX_CELLS Lloyd partial rows"
    ),
    ("operators/annx.py", "_pqx_codebooks"): (
        "partitions x m x ksub Lloyd partial rows"
    ),
    ("operators/annx.py", "pq_topk_exact"): (
        "n_queries(20)-row bounded query frame"
    ),
    ("operators/annx.py", "ivfpq_topk_exact"): (
        "PQX_KSUB seed rows + n_queries(20)-row query frame"
    ),
}


def _collect_sites() -> dict[str, set[str]]:
    """file -> set of enclosing function names containing .collect()."""
    root = pathlib.Path(pkg.__file__).parent
    out: dict[str, set[str]] = {}
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())

        class V(ast.NodeVisitor):
            def __init__(self):
                self.stack: list[str] = []
                self.hits: set[str] = set()

            def visit_FunctionDef(self, node):
                self.stack.append(node.name)
                self.generic_visit(node)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Attribute(self, node):
                if node.attr in ("collect", "toPandas"):
                    self.hits.add(self.stack[-1] if self.stack else "<module>")
                self.generic_visit(node)

        v = V()
        v.visit(tree)
        if v.hits:
            out[str(path.relative_to(root))] = v.hits
    return out


def test_every_collect_site_is_whitelisted():
    offenders = {}
    for f, fns in _collect_sites().items():
        bad = {fn for fn in fns if (f, fn) not in COLLECT_WHITELIST}
        if bad:
            offenders[f] = bad
    assert not offenders, (
        f"unwhitelisted .collect() sites (argue the bound in "
        f"COLLECT_WHITELIST): {offenders}"
    )


def test_whitelist_entries_are_live():
    live = {
        (f, fn) for f, fns in _collect_sites().items() for fn in fns
    }
    stale = {key for key in COLLECT_WHITELIST if key not in live}
    assert not stale, f"whitelist entries with no collect site: {stale}"

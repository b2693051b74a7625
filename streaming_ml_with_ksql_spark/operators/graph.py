"""Distributed connected components for dedup-group resolution.

Near-duplicate detection (MinHash / SimHash / exact n-gram Jaccard — see
operators/text.py) emits a PAIR graph; turning pairs into dedup GROUPS
("keep one representative per component") is a connected-components
problem. The reference corpus pipeline stops at pair emission; a
training-data pipeline at 100 TB needs the component step too, because
near-duplication is transitive in practice (A≈B, B≈C ⇒ A,B,C are one
group even when A,C alone miss the threshold).

One distributed loop, alternating large-star / small-star (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14 — public
algorithm, independently implemented here). Each round rewrites the EDGE
set: large-star hangs every strictly-larger neighbor of u onto
min(Γ(u) ∪ {u}); small-star hangs u and its smaller neighbors onto their
min. The graph contracts toward a star forest in O(log d) rounds, so a
10⁶-vertex adversarial path needs ~20 rounds, not the 10⁶ that min-label
propagation would. Two shuffle joins + two groupBys per round. Graphs
under ``CC_SINGLE_TASK_MAX_EDGES`` directed edges skip the loop for an
exact single-task union-find kernel.

Scale notes:
- The iteration runs ONLY over the edge-induced subgraph: a vertex with no
  edges can never change label, so the corpus (|V| ~ billions at 100 TB)
  stays out of the loop entirely — per-round cost is O(|E|) rows, and the
  full vertex set is touched exactly once, by the final singleton
  left-join. Near-dup edge sets are orders of magnitude smaller than the
  corpus, so this is the difference between 25 corpus-wide shuffles and
  25 shuffles of a frame that fits in a few executors.
- State per round is the contracted edge set (u, v) — two longs per
  edge — never adjacency lists.
- Each round cuts the edge frame's lineage with `sizing.materialize`
  (plan size would otherwise grow linearly and re-run every prior round),
  which keeps the convergence `count()` cheap. It is a local checkpoint
  and does not survive executor loss; a reliable checkpoint for a
  production cluster is a change to `materialize` alone.
- The convergence check compares the round's edge set with the previous
  one: a count, and an `exceptAll(...).isEmpty()` only when the counts
  match — O(1)-row actions per round, never a collect of the frame.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import sizing

__all__ = [
    "connected_components",
    "dedup_groups",
    "triangle_counts",
    "pagerank",
]

log = logging.getLogger(__name__)


def _star_contract(e: DataFrame, loop_parts: int) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star over a canonical directed edge set
    (u, v) with u > v, no self-loops, distinct. Returns the converged star
    forest's (u, label) frame and the rounds it took; raises when
    ``CC_MAX_ROUNDS`` rounds do not reach the fixed point, so a truncated
    contraction never passes for components."""
    # Partitioning helper: at loop_parts == 1 use coalesce(1) — its
    # SinglePartition output satisfies every ClusteredDistribution, so
    # EnsureRequirements inserts NO exchange for the round's groupBys and
    # joins and the whole round pipelines as one narrow stage (r14: the
    # per-round cost at small edge counts was 4 exchange-separated stages
    # of pure scheduling overhead). At loop_parts > 1 (large graphs) the
    # explicit hash repartition path is unchanged.
    def _part(df: DataFrame, *cols: str) -> DataFrame:
        if loop_parts == 1:
            return df.coalesce(1)
        return df.repartition(loop_parts, *cols)

    # At loop scale the per-round min frames are bounded by the contracted
    # vertex set; broadcast-hinting them turns the round's SortMergeJoins
    # (each costing TWO exchanges — Spark 4 does not co-partition joins on
    # SinglePartition outputs) into exchange-free BroadcastHashJoins, so a
    # small-graph round is one narrow stage. Large graphs (loop_parts > 1)
    # keep the hash-partitioned SMJ path untouched.
    def _bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if loop_parts == 1 else df

    prev_count = None
    for rounds in range(1, CC_MAX_ROUNDS + 1):
        # large-star: symmetric neighborhoods; every neighbor v > u hangs
        # onto m(u) = min(Γ(u) ∪ {u}). m ≤ u < v keeps the u > v invariant.
        # Not checkpointed: small-star consumes it within the same round,
        # so the lineage stays two operators deep — one materialization
        # per round, not two. sym is partitioned ONCE and both consumers
        # (the neighborhood-min aggregate and the join's probe side)
        # derive from it, so the join needs no further exchange on either
        # side (r14 — formerly each consumer repartitioned separately).
        sym = _part(
            e.unionByName(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            ),
            "u",
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(_bcast(mins), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        large = _part(large, "u").distinct()
        # small-star: group by the larger endpoint u (all its targets are
        # smaller); u and every smaller neighbor hang onto min(Γ⁻(u)).
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        # LAZY localCheckpoint fused with the convergence count: the
        # count is the first action over the checkpoint-marked RDD, so
        # ONE job both materializes the round and measures it (r14 —
        # eager-ckpt-then-count was two scheduled jobs per round, and at
        # loop scale the per-job overhead, not the data, dominates).
        stepped = _part(
            large.join(_bcast(mins2), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v")),
            "u",
        ).distinct().transform(sizing.materialize, "star round", eager=False)
        # Deterministic fixed-point test (not a probabilistic checksum):
        # same cardinality + empty one-way difference ⇔ identical sets.
        # The count compare is a free precheck — when cardinality moved,
        # the frames cannot be equal and the exceptAll job is skipped.
        n = stepped.count()
        converged = (
            n == (prev_count if prev_count is not None else e.count())
            and stepped.exceptAll(e).isEmpty()
        )
        e, prev_count = stepped, n
        if converged:
            # At the fixed point e IS a star forest: one (vertex, root)
            # edge per non-root vertex. The groupBy-min is a safety net,
            # not a correctness requirement.
            return e.groupBy("u").agg(F.min("v").alias("label")), rounds
    raise RuntimeError(
        f"star contraction did not converge in {CC_MAX_ROUNDS} rounds"
    )


# Directed-edge count below which connected_components takes the
# single-task Arrow union-find fast path instead of star contraction
# (~16 MB of edge longs; one executor task).
CC_SINGLE_TASK_MAX_EDGES = 1_000_000

# Round cap of star contraction. It converges in O(log d) rounds (a
# 600-vertex path takes under 16), so hitting the cap means a defect, and
# _star_contract raises rather than return a partial labelling.
CC_MAX_ROUNDS = 25

# Edge count below which hits_bipartite broadcast-hints its (vertex-
# bounded) score frames into the per-round joins; above it the shuffled
# joins stand (guide §3.1).
HITS_BROADCAST_MAX_EDGES = 2_000_000

# Directed-edge count below which the iterative integer score loops
# (pagerank, bfs_hops, hits_bipartite) take their single-task Arrow
# kernels instead of the distributed per-round join/aggregate loops —
# the connected_components fast-path discipline (guide §4.2): every one
# of these algorithms is EXACT int64 arithmetic whose result is
# independent of summation order and partitioning, so one vectorized
# numpy task replays the distributed loop bit-for-bit while saving
# iters × (join + groupBy + checkpoint) jobs of fixed overhead.
# Larger graphs keep the loops.
ITER_SINGLE_TASK_MAX_EDGES = 1_000_000

# The distributed pagerank / bfs loops cut their lineage every this many
# rounds (and after the last): their integer results do not depend on the
# cadence, and batching rounds per eager job cuts the per-round job
# overhead that dominates them at bench scale. Un-cut rounds re-execute
# inside the next round's lineage, so on data-dominated graphs, where the
# duplicated shuffle exceeds the saved job overhead, 1 is better
# (ADVICE r10).
LOOP_CHECKPOINT_EVERY = 2


def _prep_sym_edges(batches):
    """Consume (src, dst) Arrow batches; return the symmetrized,
    deduplicated edge set as factorized index arrays plus dst-sorted
    segment structures for exact ``reduceat`` aggregation:
    (su_s, sv_starts, seg_ids, outdeg, uniq, nv) where ``su_s`` is the
    src index of every directed edge sorted by dst, ``sv_starts`` the
    segment starts of each dst run, ``seg_ids`` the dst index per
    segment, ``outdeg`` the per-src directed degree, ``uniq`` the
    original vertex ids (factorize order), ``nv`` the vertex count.
    Returns None on an empty edge set. Id-type generic (factorize
    handles int64 and str alike; only index arrays do arithmetic)."""
    import numpy as np
    import pandas as pd

    srcs, dsts = [], []
    for pdf in batches:
        srcs.append(pdf["src"].to_numpy())
        dsts.append(pdf["dst"].to_numpy())
    if not srcs:
        return None
    a = np.concatenate(srcs)
    b = np.concatenate(dsts)
    if a.size == 0:
        return None
    codes, uniq = pd.factorize(np.concatenate([a, b]))
    nv = len(uniq)
    u = codes[: a.size].astype(np.int64)
    v = codes[a.size:].astype(np.int64)
    # symmetrize + distinct == the loops' unionByName(...).distinct()
    key = np.concatenate([u, v]) * np.int64(nv) + np.concatenate([v, u])
    key = np.unique(key)
    su = (key // nv).astype(np.int64)
    sv = (key % nv).astype(np.int64)
    outdeg = np.bincount(su, minlength=nv).astype(np.int64)
    order = np.argsort(sv, kind="stable")
    su_s = su[order]
    sv_s = sv[order]
    starts = np.flatnonzero(np.r_[True, sv_s[1:] != sv_s[:-1]])
    seg_ids = sv_s[starts]
    return su_s, starts, seg_ids, outdeg, uniq, nv


def _pagerank_single_task_kernel(iters: int, scale: int):
    """Exact integer-fixed-point PageRank over ONE bounded edge
    partition — the single-task Arrow fast path of ``pagerank``. Every
    operation mirrors the distributed loop verbatim: initial rank
    ``scale div n``, per-edge contribution ``pr div outdeg`` (all values
    non-negative, so numpy's floor ``//`` == Spark's truncating
    ``div``), damped update ``(15*(scale div n)) div 100 +
    (85*acc) div 100`` — int64 addition is associative, so
    ``np.add.reduceat`` per dst segment equals the loop's groupBy-sum on
    any engine or partitioning."""

    def kern(batches):
        import numpy as np
        import pandas as pd

        prep = _prep_sym_edges(batches)
        if prep is None:
            return
        su_s, starts, seg_ids, outdeg, uniq, nv = prep
        base = np.int64((15 * (scale // nv)) // 100)
        pr = np.full(nv, scale // nv, dtype=np.int64)
        for _ in range(iters):
            contrib = pr[su_s] // outdeg[su_s]
            acc = np.zeros(nv, dtype=np.int64)
            acc[seg_ids] = np.add.reduceat(contrib, starts)
            pr = base + (85 * acc) // 100
        yield pd.DataFrame({"node": uniq, "pr": pr})

    return kern


def _bfs_single_task_kernel(iters: int, seed_mod: int):
    """Exact multi-source BFS over ONE bounded edge partition — the
    single-task Arrow fast path of ``bfs_hops``. min over int64 is
    commutative, so ``np.minimum.reduceat`` per dst segment equals the
    loop's groupBy-min; unreached vertices carry a 2^62 sentinel
    internally (propagating it never wins a min against a real
    distance) and emit NULL, exactly the loop's contract."""

    def kern(batches):
        import numpy as np
        import pandas as pd

        prep = _prep_sym_edges(batches)
        if prep is None:
            return
        su_s, starts, seg_ids, _outdeg, uniq, nv = prep
        unreached = np.int64(1) << 62
        ids = np.asarray(uniq, dtype=np.int64)
        d = np.where(ids % seed_mod == 0, np.int64(0), unreached)
        for _ in range(iters):
            nd = d[su_s] + 1
            best = np.minimum.reduceat(nd, starts)
            d[seg_ids] = np.minimum(d[seg_ids], best)
        yield pd.DataFrame(
            {
                "node": uniq,
                "d": pd.arrays.IntegerArray(d, d >= unreached),
            }
        )

    return kern


def _hits_single_task_kernel(
    rounds: int, scale: int, side: str, hub_col: str, auth_col: str
):
    """Exact integer HITS over ONE bounded bipartite edge partition —
    the single-task Arrow fast path of ``hits_bipartite``. Replays the
    distributed rounds verbatim (sum per target vertex via int64
    ``reduceat``, then the integer rescale ``score div greatest(1,
    (max+scale-1) div scale)``); emits the hub or authority side per
    ``side``. Edges are NOT deduplicated here — the distributed joins
    sum duplicate edges twice, so the kernel must too (callers pass
    distinct edge lists)."""

    def kern(batches):
        import numpy as np
        import pandas as pd

        cs, ps = [], []
        for pdf in batches:
            cs.append(pdf[hub_col].to_numpy())
            ps.append(pdf[auth_col].to_numpy())
        if not cs:
            return
        c = np.concatenate(cs)
        p = np.concatenate(ps)
        if c.size == 0:
            return
        ccodes, cuniq = pd.factorize(c)
        pcodes, puniq = pd.factorize(p)
        nc, na = len(cuniq), len(puniq)
        ccodes = ccodes.astype(np.int64)
        pcodes = pcodes.astype(np.int64)
        po = np.argsort(pcodes, kind="stable")
        p_s = pcodes[po]
        c_for_p = ccodes[po]
        pstarts = np.flatnonzero(np.r_[True, p_s[1:] != p_s[:-1]])
        pseg = p_s[pstarts]
        co = np.argsort(ccodes, kind="stable")
        c_s = ccodes[co]
        p_for_c = pcodes[co]
        cstarts = np.flatnonzero(np.r_[True, c_s[1:] != c_s[:-1]])
        cseg = c_s[cstarts]

        def rescale(raw):
            m = int(raw.max())
            dnm = max(1, (m + scale - 1) // scale)
            return raw // np.int64(dnm)

        hs = np.full(nc, scale, dtype=np.int64)
        as_ = None
        for _ in range(rounds):
            raw = np.zeros(na, dtype=np.int64)
            raw[pseg] = np.add.reduceat(hs[c_for_p], pstarts)
            as_ = rescale(raw)
            raw2 = np.zeros(nc, dtype=np.int64)
            raw2[cseg] = np.add.reduceat(as_[p_for_c], cstarts)
            hs = rescale(raw2)
        if side == "hub":
            yield pd.DataFrame({hub_col: cuniq, "hs": hs})
        else:
            yield pd.DataFrame({auth_col: puniq, "as_": as_})

    return kern


def _cc_single_task_kernel(batches):
    """Exact min-label union-find over ONE bounded edge partition — the
    single-task Arrow fast path of connected_components. Union-by-min +
    path compression: find(x) returns the MINIMUM vertex id of x's
    component (the larger root is always attached under the smaller), so
    the output (vertex, label) is identical to the converged star
    contraction at any iteration order. Id-type generic: ``.tolist()`` yields
    Python ints for integer ids and str for string ids, and ``<``/``min``
    on str is the same lexicographic order Spark's ``F.min`` and DuckDB's
    ``min`` apply (the part_entity_groups string-vertex contract)."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for pdf in batches:
        for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
    if parent:
        verts = sorted(parent)
        yield pd.DataFrame(
            {"id": verts, "component": [find(x) for x in verts]}
        )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """(id, component) for every vertex; component = min vertex id reachable
    via undirected ``edges``. Vertices absent from ``edges`` are singleton
    components of themselves. Each call logs one line with its path
    (kernel or star), rounds and directed edge count.

    Single-task fast path (r14, guide §4.2/§8): the edge list is already
    materialized and counted for loop sizing; when it fits one loop
    partition (< ~1M edges — the contracted near-dup graphs are orders of
    magnitude smaller than the corpus) the iterative loop's fixed cost
    (5+ materialize/convergence jobs of multi-stage shuffles) dwarfs the
    work, so components are computed EXACTLY by one executor-side Arrow
    union-find task over the bounded edge frame — no driver collect, no
    loop, identical min-label output (pinned by test against the star
    loop). Larger graphs take star contraction."""
    # Materialize the edge list ONCE before symmetrizing: `edges` is
    # usually an expensive lazy plan (a near-dup pair join), and the
    # two-branch union would otherwise execute it twice.
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).transform(sizing.materialize, "cc edge list, sizes the gate")
    n_directed = e.count()
    # Schema follows the edge id type: integer graphs stay long,
    # string-vertex graphs (part_entity_groups) stay string — the
    # kernel's min/union order is the same in both (lexicographic for
    # str == Spark F.min == DuckDB min).
    id_t = e.schema["u"].dataType.simpleString()
    resolved = sizing.single_task(
        e,
        _cc_single_task_kernel,
        f"id {id_t}, component {id_t}",
        name="cc",
        max_rows=CC_SINGLE_TASK_MAX_EDGES,
        rows=n_directed,
    )
    if resolved is not None:
        path, rounds = "kernel", 0
        labels = F.broadcast(
            resolved.select(F.col("id").alias(id_col), "component")
        )
    else:
        canon = (
            e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(sizing.materialize, "star contraction canonical edges")
        )
        default_parts = int(
            canon.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        loop_parts = max(1, min(default_parts, canon.count() // 1_000_000 + 1))
        # Pass the checkpointed canon directly: the first round's `mins`
        # repartitions by u anyway, so the former
        # repartition+localCheckpoint here was a third materialization of
        # the same edge set (one extra job + copy per call — r14).
        stars, rounds = _star_contract(canon, loop_parts)
        path = "star"
        labels = stars.select(
            F.col("u").alias(id_col), F.col("label").alias("component")
        )
    log.info(
        "connected_components path=%s rounds=%s edges=%s", path, rounds, n_directed
    )
    # One pass over the full vertex set: resolved label where present,
    # else the vertex is its own (singleton) component.
    return (
        vertices.select(F.col(id_col))
        .join(labels, id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )


def dedup_groups(
    documents: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Resolve a near-dup pair graph into dedup groups over the full corpus:
    (doc_id, group_id, group_size) where group_id is the component's min
    doc_id — the canonical keep-min-id representative. group_size rides on
    a self-aggregation of the (tiny relative to the corpus) label frame."""
    comp = connected_components(
        pairs,
        documents.select(id_col),
        src=a_col,
        dst=b_col,
        id_col=id_col,
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("group_size"))
    return comp.join(sizes, "component").select(
        F.col(id_col),
        F.col("component").alias("group_id"),
        F.col("group_size"),
    )


def triangle_counts(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact per-vertex triangle counts on an undirected graph via
    DEGREE-ORDERED edge orientation (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW 2011 — public
    method, independently implemented): orient every edge from its
    (degree, id)-smaller endpoint, build wedges by self-joining oriented
    edges on the pivot, and close each wedge against the oriented edge
    set. Every triangle is enumerated EXACTLY ONCE (its (deg, id)-minimal
    vertex is the only possible pivot), and the wedge join's skew is
    bounded by out-degrees under the orientation — a celebrity vertex's
    edges all point INTO it, so it never pivots its full neighborhood
    (the last-reducer fix; on the near-dup graph this is what keeps a
    viral duplicate cluster from serializing one task).

    Output: (vertex, n_triangles) for EVERY vertex of the edge set,
    zero-filled — triangle participation is the numerator of the local
    clustering coefficient, the standard community-density screen over
    a near-dup pair graph.
    """
    u, v = F.col(src), F.col(dst)
    e = (
        edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    verts = (
        e.select(F.col("u").alias("vertex"))
        .unionAll(e.select(F.col("v").alias("vertex")))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("vertex"))
        .unionAll(e.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orientation: a -> b iff (deg_a, a) < (deg_b, b); every edge gets
    # exactly one direction (total order, ids distinct)
    withdeg = (
        e.join(deg.select(F.col("vertex").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("vertex").alias("v"), F.col("deg").alias("dv")), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = withdeg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(fwd, F.col("du")).otherwise(F.col("dv")).alias("da"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )
    # wedges pivoted at a: (a->b, a->c) with (deg_b, b) < (deg_c, c) so
    # the closing edge b->c carries the same orientation
    o1 = oriented.select(
        F.col("a").alias("wa"), F.col("b").alias("wb"),
        F.col("db").alias("wdb"),
    )
    o2 = oriented.select(
        F.col("a").alias("wa"), F.col("b").alias("wc"),
        F.col("db").alias("wdc"),
    )
    wedges = o1.join(o2, "wa").where(
        (F.col("wdb") < F.col("wdc"))
        | ((F.col("wdb") == F.col("wdc")) & (F.col("wb") < F.col("wc")))
    )
    closing = oriented.select(
        F.col("a").alias("wb"), F.col("b").alias("wc")
    )
    tri = wedges.join(closing, ["wb", "wc"]).select("wa", "wb", "wc")
    per_vertex = (
        tri.select(F.col("wa").alias("vertex"))
        .unionAll(tri.select(F.col("wb").alias("vertex")))
        .unionAll(tri.select(F.col("wc").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return verts.join(per_vertex, "vertex", "left").select(
        "vertex",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
    )


def kcore_vertices(
    edges: DataFrame,
    *,
    k: int = 2,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 100,
) -> DataFrame:
    """Vertices of the k-core (the maximal subgraph where every vertex
    keeps degree >= k) with their within-core degree — the density
    filter between raw near-dup pairs and clique-level dedup decisions:
    a 2-core strips chain-like borderline matches, a 3-core keeps only
    genuinely clustered duplicates.

    Iterative peeling (Matula & Beck, JACM 1983 — public algorithm):
    each round computes degrees (one map-side-combined groupBy over the
    edge list), drops every vertex below k (two left-anti joins), and
    truncates lineage with an eager localCheckpoint — the
    connected-components loop discipline (graph.py:59): O(|E|) per
    round, rounds bounded by the peeling depth, plan size constant.
    ``max_rounds`` is a runaway guard only; the loop exits at the first
    fixpoint round."""
    u, v = F.col(src), F.col(dst)
    canon = (
        edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    und = canon.unionAll(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    cur = sizing.materialize(und, "kcore edges, round 0")
    for _ in range(max_rounds):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        bad = deg.filter(F.col("deg") < k).select("u")
        if bad.isEmpty():
            break
        cur = (
            cur.join(bad, "u", "left_anti")
            .join(bad.select(F.col("u").alias("v")), "v", "left_anti")
            .transform(sizing.materialize, "kcore edges, per peel")
        )
    else:
        raise RuntimeError(f"k-core peeling did not converge in {max_rounds} rounds")
    return (
        cur.groupBy("u")
        .agg(F.count(F.lit(1)).cast("int").alias("core_degree"))
        .select(F.col("u").alias("vertex"), "core_degree")
    )


def _loop_parts(pairs: DataFrame) -> int:
    """Hash partitions of the pagerank / bfs loop frames: a quarter of the
    session's shuffle partitions."""
    parts = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, parts // 4)


def _cut_round(i: int, iters: int) -> bool:
    return i % LOOP_CHECKPOINT_EVERY == LOOP_CHECKPOINT_EVERY - 1 or i == iters - 1


def pagerank(
    pairs: DataFrame,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    iters: int = 6,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair graph in INTEGER
    fixed-point — centrality for the near-dup graph (which document is
    the hub of its duplication cluster — the natural canonical
    representative, vs dedup_groups' arbitrary min-id).

    Determinism: float PageRank is unreproducible across engines AND
    across partitionings (per-vertex sums of doubles are
    order-dependent, and six iterations amplify every last-ulp
    difference). All arithmetic here is BIGINT: ranks live in units of
    scale=1e12, each vertex forwards ``pr div outdeg`` to every
    neighbor, and the damped update is
    ``(15*(scale div n)) div 100 + (85*sum) div 100`` — integer
    addition is exact and commutative, so any summation order on any
    engine yields identical ranks (the truncated remainders are part of
    the DEFINED algorithm, mirrored verbatim by the unrolled SQL
    oracle). Mass lost to truncation is < n_edges ulps of 1e-12 — far
    below any ranking-relevant difference. 1e12 * damping products stay
    under 2^63.

    Scale shape: the loop runs over the edge-induced subgraph only
    (same rationale as connected_components — edgeless vertices hold
    the base rank and never change it). Per iteration: ONE shuffle join
    (ranks onto edges, both sides hash-partitioned on src into the same
    ``_loop_parts``) + ONE groupBy(dst) — O(|E|) rows; the rank frame is
    materialized every ``LOOP_CHECKPOINT_EVERY`` rounds to truncate the
    iterative lineage. A fixed iteration count (not convergence polling)
    keeps the plan deterministic and the oracle unrollable."""
    # Materialize the pair list ONCE before symmetrizing (the
    # connected_components discipline): `pairs` is usually an expensive
    # lazy plan (e.g. the exact-Jaccard inverted-index self-join), and
    # without this it re-executes once per union branch and once more
    # under each consumer of `edges` the planner cannot fuse (the degree
    # aggregate vs the join side) — the r14 plan audit measured the full
    # pair DAG running up to 4x per execution. The checkpointed frame is
    # two longs per pair, O(|pairs|).
    p0 = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).transform(sizing.materialize, "pagerank edge list, sizes the gate")
    # Single-task Arrow fast path (r14, guide §4.2): the pair list is
    # already materialized; when the symmetrized edge set fits one loop
    # partition, the iters × (join + groupBy + checkpoint) fixed job
    # cost dwarfs the data work, and the exact int64 arithmetic is
    # partitioning-free — one vectorized kernel task replays the loop
    # bit-for-bit (pinned by parity test). Larger graphs loop unchanged
    # (the threshold is an edge-count bound, not a core-count constant).
    id_t = p0.schema["src"].dataType.simpleString()
    fast = sizing.single_task(
        p0,
        _pagerank_single_task_kernel(iters, scale),
        f"node {id_t}, pr long",
        name="pagerank",
        # each pair symmetrizes into two directed edges
        max_rows=ITER_SINGLE_TASK_MAX_EDGES // 2,
    )
    if fast is not None:
        return fast
    edges = p0.unionByName(
        p0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    loop_parts = _loop_parts(pairs)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ewd = (
        edges.join(deg, "src")
        .repartition(loop_parts, "src")
        .transform(sizing.materialize, "pagerank weighted edges, loop input")
    )
    nodes = (
        ewd.select(F.col("src").alias("node"))
        .distinct()
        .transform(sizing.materialize, "pagerank nodes, loop input")
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"{scale}L div n_nodes").alias("pr")
    )
    for i in range(iters):
        contrib = ewd.join(
            pr.select(F.col("node").alias("src"), "pr"), "src"
        ).select(
            F.col("dst").alias("node"), F.expr("pr div outdeg").alias("c")
        )
        acc = contrib.groupBy("node").agg(F.sum("c").alias("acc"))
        pr = (
            nodes.join(acc, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    F.expr(f"(15 * ({scale}L div n_nodes)) div 100")
                    + F.expr("(85 * coalesce(acc, 0L)) div 100")
                ).alias("pr"),
            )
            .repartition(loop_parts, "node")
        )
        if _cut_round(i, iters):
            pr = sizing.materialize(pr, "pagerank ranks")
    return pr


def bfs_hops(
    pairs: DataFrame,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    seed_mod: int = 10,
    iters: int = 4,
) -> DataFrame:
    """Multi-source BFS hop distances over an undirected pair graph —
    landmark distance labeling (seeds = vertices with id % seed_mod == 0,
    a content-free deterministic landmark set), the building block for
    graph-proximity features ("how many dedup hops from a canonical
    document") that PageRank's stationary view can't give.

    Determinism: distances are small BIGINTs and every update is
    ``min(d, min over neighbors (d_neighbor + 1))`` — min over integers
    is exact and commutative, so any partitioning or engine replays the
    identical frontier, and the oracle unrolls the loop as generated
    CTEs (the pagerank discipline, without even a truncation caveat).

    Scale shape: per iteration ONE shuffle join (current labels onto
    edges, both sides hash-partitioned on src into ``_loop_parts``) + ONE
    groupBy(dst) min — O(|E|) rows per round, frontier never
    materialized driver-side; the label frame is materialized every
    ``LOOP_CHECKPOINT_EVERY`` rounds to truncate iterative lineage. Fixed
    iteration count keeps the plan deterministic and the oracle
    unrollable; vertices beyond ``iters`` hops keep a NULL distance
    (reported, not dropped).

    Returns (node, d) with d NULL when unreached within ``iters``.
    """
    # Materialize the pair list ONCE before symmetrizing (the
    # connected_components discipline): `pairs` is usually an expensive
    # lazy plan (e.g. the exact-Jaccard inverted-index self-join), and
    # without this it re-executes once per union branch and once more
    # under each consumer of `edges` the planner cannot fuse (the degree
    # aggregate vs the join side) — the r14 plan audit measured the full
    # pair DAG running up to 4x per execution. The checkpointed frame is
    # two longs per pair, O(|pairs|).
    p0 = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).transform(sizing.materialize, "bfs edge list, sizes the gate")
    # Single-task Arrow fast path — see pagerank (the min-propagation
    # twin: int64 min is commutative, so the kernel's reduceat equals
    # the loop's groupBy-min on any partitioning; parity-pinned).
    id_t = p0.schema["src"].dataType.simpleString()
    fast = sizing.single_task(
        p0,
        _bfs_single_task_kernel(iters, seed_mod),
        f"node {id_t}, d long",
        name="bfs",
        max_rows=ITER_SINGLE_TASK_MAX_EDGES // 2,
    )
    if fast is not None:
        return fast
    edges = p0.unionByName(
        p0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    loop_parts = _loop_parts(pairs)
    ew = sizing.materialize(edges.repartition(loop_parts, "src"), "bfs edges")
    nodes = (
        ew.select(F.col("src").alias("node"))
        .distinct()
        .transform(sizing.materialize, "bfs nodes, loop input")
    )
    dist = nodes.select(
        "node",
        F.when(F.col("node") % seed_mod == 0, F.lit(0).cast("long")).alias("d"),
    )
    for i in range(iters):
        prop = ew.join(
            dist.where(F.col("d").isNotNull()).select(
                F.col("node").alias("src"), "d"
            ),
            "src",
        ).select(F.col("dst").alias("node"), (F.col("d") + 1).alias("nd"))
        best = prop.groupBy("node").agg(F.min("nd").alias("nd"))
        dist = (
            dist.join(best, "node", "left")
            .select("node", F.least("d", "nd").alias("d"))
            .repartition(loop_parts, "node")
        )
        if _cut_round(i, iters):
            dist = sizing.materialize(dist, "bfs distances")
    return dist


def propagate_labels(
    pairs: DataFrame,
    seeds: DataFrame,
    *,
    rounds: int = 3,
    src: str = "doc_a",
    dst: str = "doc_b",
    id_col: str = "node",
    label_col: str = "lbl",
) -> DataFrame:
    """Semi-supervised label propagation with HARD CLAMPING (Zhu &
    Ghahramani 2002's propagation idea in its deterministic discrete
    form — public method, independently implemented): seeds keep their
    label forever; each round, every still-unlabeled vertex with at
    least one labeled neighbor adopts the MAJORITY neighbor label, ties
    to the lexicographically smallest label. Labels only ever ADD
    (monotone — no oscillation), so ``rounds`` rounds are a
    deterministic function of the graph + seeds on any engine or
    partitioning, and an unrolled SQL oracle replays them exactly.

    Returns (id_col, label_col, round) — round 0 for seeds, k for
    vertices labeled in round k. Vertices never reached are absent.

    Scale shape: per round, one join of the (still small) frontier
    against the symmetrized edge list + one (vertex, label) majority
    aggregate; the labels frame is localCheckpointed per round
    (iterative lineage truncation, the connected_components
    discipline). Windows partition by vertex — never global.
    """
    e = pairs.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).transform(sizing.materialize, "label propagation edges, loop input")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = seeds.select(
        F.col(id_col).alias("u"),
        F.col(label_col).alias("lbl"),
        F.lit(0).alias("round"),
    ).transform(sizing.materialize, "label propagation labels, round 0")
    for k in range(1, rounds + 1):
        votes = (
            sym.join(
                labels.select(F.col("u").alias("v"), "lbl"),
                "v",
            )
            .join(labels.select("u"), "u", "left_anti")
            .groupBy("u", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("u").orderBy(
            F.col("cnt").desc(), F.col("lbl").asc()
        )
        newly = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("u", "lbl", F.lit(k).alias("round"))
        )
        labels = sizing.materialize(labels.unionByName(newly), "propagation round")
    return labels.select(
        F.col("u").alias(id_col), F.col("lbl").alias(label_col), "round"
    )


def hits_bipartite(
    edges: DataFrame,
    *,
    rounds: int = 2,
    scale: int = 1_000_000,
    hub_col: str = "c",
    auth_col: str = "p",
) -> tuple[DataFrame, DataFrame]:
    """HITS hubs-and-authorities (Kleinberg, JACM 1999) over a bipartite
    edge list — hubs on ``hub_col`` (e.g. customers), authorities on
    ``auth_col`` (e.g. parts) — in EXACT integer fixed-point, the
    pagerank_near_dup discipline: every score is a BIGINT, every update
    a sum of BIGINTs, so the result is independent of partitioning and
    replayable verbatim by an unrolled SQL oracle.

    Normalization (the float step in textbook HITS) is replaced by an
    integer rescale: after each matrix-vector product, scores divide by
    d = max(1, ceil(max_score / scale)), keeping every score <= ~scale
    with NO multiplication — so intermediate sums stay far from int64
    overflow even with 1e6+ vertices (a raw sum bounds at
    n_neighbors * scale). Rank order within a round is preserved up to
    the shared truncation, which both engines apply identically.

    Scale shape: each round is one groupBy-sum shuffled on the target
    vertex plus a 1-row max aggregate broadcast back; ``rounds`` is a
    small constant. Returns (hubs, authorities) score frames.
    """
    c, p = hub_col, auth_col
    # Materialize the (projected) edge list before anything consumes it
    # (ADVICE r14, the pagerank p0 discipline): the count below plus the
    # two single-task kernel scans — or the 2×rounds distributed joins —
    # would otherwise re-execute an expensive lazy edge plan per
    # consumer. Both downstream paths read only (c, p).
    edges = sizing.materialize(edges.select(c, p), "hits edge list, sizes the gate")
    n_edges = edges.count()
    # Single-task Arrow fast path (r14, guide §4.2) — see pagerank: the
    # whole rounds×(sum, rescale, sum, rescale) recurrence is exact
    # int64 arithmetic, so when the edge list fits one task, one
    # vectorized kernel per returned side replays it bit-for-bit
    # (parity-pinned) instead of 2×rounds eager join+groupBy+checkpoint
    # jobs. Larger graphs keep the distributed rounds below.
    gate = dict(max_rows=ITER_SINGLE_TASK_MAX_EDGES, rows=n_edges)
    hubs = sizing.single_task(
        edges,
        _hits_single_task_kernel(rounds, scale, "hub", c, p),
        f"{c} {edges.schema[c].dataType.simpleString()}, hs long",
        name="hits_hub",
        **gate,
    )
    if hubs is not None:
        auths = sizing.single_task(
            edges,
            _hits_single_task_kernel(rounds, scale, "auth", c, p),
            f"{p} {edges.schema[p].dataType.simpleString()}, as_ long",
            name="hits_auth",
            **gate,
        )
        return hubs, auths
    # Scale-adaptive join strategy (guide §3.1): the score frames are
    # bounded by the vertex sets, so when the edge list is small enough
    # that its vertex sides certainly fit a broadcast, hint them — each
    # round's join then streams the (checkpointed) edge list with ZERO
    # edge shuffles instead of sort-merge-exchanging it twice per round.
    # Large graphs (edge count >= the bound, the 100 TB path) keep the
    # shuffled joins unchanged. Integer sums are partitioning-invariant,
    # so the result is identical on both paths.
    bounded = n_edges < HITS_BROADCAST_MAX_EDGES
    _bc = F.broadcast if bounded else (lambda df: df)
    hubs = edges.select(c).distinct().withColumn(
        "hs", F.lit(scale).cast("long")
    )

    def rescale(df: DataFrame, col: str) -> DataFrame:
        # materialize the summed frame ONCE: it feeds both the max
        # aggregate and the rescaled projection — without this the
        # edge-join aggregation would execute twice per call
        df = sizing.materialize(df, "hits scores, read by max and rescale")
        m = df.agg(F.max(col).alias("m")).select(
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"(m + {scale - 1}) div {scale}"),
            ).alias("d")
        )
        return df.crossJoin(F.broadcast(m)).select(
            *[x for x in df.columns if x != col],
            F.expr(f"{col} div d").alias(col),
        )

    auths = None
    for _ in range(rounds):
        auths = rescale(
            edges.join(_bc(hubs), c).groupBy(p).agg(F.sum("hs").alias("as_")),
            "as_",
        )
        hubs = rescale(
            edges.join(_bc(auths), p).groupBy(c).agg(F.sum("as_").alias("hs")),
            "hs",
        )
    return hubs, auths


def propagate_labels_weighted(
    rep_pairs: DataFrame,
    seed_groups: DataFrame,
    unlabeled: DataFrame,
    *,
    rounds: int = 3,
    src: str = "doc_a",
    dst: str = "doc_b",
    id_col: str = "node",
    label_col: str = "lbl",
    weight_col: str = "w",
) -> DataFrame:
    """propagate_labels over a corpus whose EXACT-duplICATE vertices are
    collapsed to weighted representatives — the r8 scale fix for
    duplicate-heavy graphs (the 100x stress filled the disk with the
    expanded jaccard pair shuffle before a single propagation round).

    Model: each rep carries labeled VOTER groups (``seed_groups``:
    (node, lbl, w) — per-label seed member counts; labels may conflict
    within a rep, each group votes its own label) and one unlabeled
    block (``unlabeled``: (node, w) — the non-seed member count).
    ``rep_pairs`` are edges between DISTINCT points; a self-loop is
    implied (siblings of the same rep are mutual neighbors at
    similarity 1). Every unlabeled copy of a rep sees the IDENTICAL
    vote multiset — labeled siblings plus labeled members of
    neighboring reps, each weighted by member count — so the whole
    block labels in one decision, exactly reproducing per-copy
    propagate_labels over the expanded graph (pinned by test).

    Returns (id_col, label_col, round, weight_col): seeds at round 0
    (one row per rep-label group), unlabeled blocks at the round they
    label. Blocks never reached are absent.
    """
    e = rep_pairs.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).transform(sizing.materialize, "weighted propagation rep edges")
    sym = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # sibling votes: same-rep labeled groups reach the rep's block
        .unionByName(
            seed_groups.select(F.col(id_col).alias("u"))
            .unionByName(unlabeled.select(F.col(id_col).alias("u")))
            .distinct()
            .select("u", F.col("u").alias("v"))
        )
        .transform(sizing.materialize, "weighted propagation graph, loop input")
    )
    voters = seed_groups.select(
        F.col(id_col).alias("u"),
        F.col(label_col).alias("lbl"),
        F.col(weight_col).cast("long").alias("w"),
        F.lit(0).alias("round"),
    ).transform(sizing.materialize, "weighted propagation voters, round 0")
    pending = unlabeled.select(
        F.col(id_col).alias("u"), F.col(weight_col).cast("long").alias("w")
    ).transform(sizing.materialize, "weighted propagation pending, round 0")
    for k in range(1, rounds + 1):
        votes = (
            sym.join(
                voters.select(F.col("u").alias("v"), "lbl", "w"), "v"
            )
            .join(pending.select("u"), "u", "left_semi")
            .groupBy("u", "lbl")
            .agg(F.sum("w").alias("cnt"))
        )
        wnd = Window.partitionBy("u").orderBy(
            F.col("cnt").desc(), F.col("lbl").asc()
        )
        newly = (
            votes.withColumn("rn", F.row_number().over(wnd))
            .where(F.col("rn") == 1)
            .select("u", "lbl")
        )
        newly_w = newly.join(pending, "u").select(
            "u", "lbl", "w", F.lit(k).alias("round")
        ).transform(sizing.materialize, "weighted propagation new labels")
        voters = sizing.materialize(voters.unionByName(newly_w), "voters round")
        pending = pending.join(newly_w.select("u"), "u", "left_anti")
        pending = sizing.materialize(pending, "weighted propagation pending, per round")
    return voters.select(
        F.col("u").alias(id_col),
        F.col("lbl").alias(label_col),
        "round",
        F.col("w").alias(weight_col),
    )

"""Distributed k-means (Lloyd) in INTEGER fixed point — exactly
oracleable clustering over the embeddings table.

Float k-means is unreproducible across engines and partitionings
(centroid means are order-dependent double sums, and every iteration
amplifies the divergence). Here every coordinate is quantized once to
exact integer micro-units (floor of a correctly-rounded double product
is engine-identical), distances are exact BIGINT sums of squares, the
argmin tie-breaks on centroid id, and centroid updates are
``sum div count`` — integer truncation is part of the DEFINED
algorithm, so any engine, summation order, or partitioning replays the
identical three iterations, and the DuckDB oracle just unrolls the
loop as generated CTEs (the pagerank_near_dup discipline).

Scale shape: the N x k assignment join broadcasts the k-row centroid
frame (k-means' canonical distributed form); the update is ONE
posexplode + groupBy(cid, pos) over N*d rows — partial aggregation
map-side combines before the k*d-row shuffle. The centroid frame is
materialized per iteration to truncate iterative lineage. No
driver-side collect anywhere; at 100 TB the same plan holds with
centroids still k rows.

Reference parity: the reference's ML surface is train-then-score
(train.py:288-372); clustering is a north-star training-data operator
(corpus organization / semantic dedup seeding), not a reference port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import sizing

__all__ = ["quantize_vectors", "kmeans_fixed_point", "dbscan_from_pairs"]

# Quantized-cell count (rows x dims) below which kmeans_fixed_point runs
# its Lloyd iterations in ONE vectorized Arrow task instead of the
# distributed assign/update loop — the graph-kernel discipline (r14,
# guide §4.2): every operation is exact int64 arithmetic, so the kernel
# replays the loop bit-for-bit while saving iters x (broadcast-assign +
# posexplode-update + centroid checkpoint) jobs. ~160 MB of int64 cells.
# Larger inputs keep the distributed loop (the bound is a data-size
# constant, not a core-count constant).
KMEANS_SINGLE_TASK_MAX_CELLS = 20_000_000

# Rep-row + directed-edge count below which dbscan_from_weighted_pairs
# resolves the rep-level roles/labels in ONE Arrow task (weighted
# degrees, min-label union-find over core-core edges, min-label border
# attach — all exact integer/min arithmetic, so the kernel replays the
# relational cascade bit-for-bit) instead of ~10 join/aggregate jobs
# whose decision frames are re-executed per consumer. Members (the
# corpus-scale side) are NEVER collected — they attach by one broadcast
# join. Larger graphs keep the relational path.
DBSCAN_SINGLE_TASK_MAX_ROWS = 1_000_000


def _dbscan_single_task_kernel(min_neighbors: int):
    """Exact rep-level weighted DBSCAN over ONE bounded partition — the
    single-task fast path of dbscan_from_weighted_pairs. Input rows are
    a union: (u, m, NULL) weight rows (one per rep) and (u, NULL, v)
    eps-pair rows. Replays the relational cascade verbatim: weighted
    degree m-1 + Σ m over sym neighbors (duplicate edges count twice,
    exactly like the non-distinct union), core threshold, min-label
    union-find over core-core edges (== star contraction's min
    component id), border = min core-neighbor label, noise -1."""

    def kern(batches):
        import numpy as np
        import pandas as pd

        ws, es = [], []
        for pdf in batches:
            isw = pdf["v"].isna().to_numpy()
            if isw.any():
                ws.append(pdf.loc[isw, ["u", "m"]])
            if (~isw).any():
                es.append(pdf.loc[~isw, ["u", "v"]])
        if not ws:
            return
        w = pd.concat(ws)
        ru = w["u"].to_numpy().astype(np.int64)
        m = w["m"].to_numpy().astype(np.int64)
        order = np.argsort(ru, kind="stable")
        ru, m = ru[order], m[order]
        n = len(ru)
        if es:
            epdf = pd.concat(es)
            eu = epdf["u"].to_numpy().astype(np.int64)
            ev = epdf["v"].to_numpy().astype(np.int64)
        else:
            eu = ev = np.empty(0, dtype=np.int64)
        iu = np.searchsorted(ru, eu)
        iv = np.searchsorted(ru, ev)
        # Mirror the relational path's inner join onto the weight frame
        # (ADVICE r14): an edge endpoint absent from the rep set would
        # otherwise alias the lexically-next rep (or index one past the
        # array end). Registry callers always emit both endpoints as
        # reps, so this mask is a no-op for them — it pins the kernel's
        # semantics to the relational cascade for foreign edges too.
        ok = (
            (iu < n)
            & (iv < n)
            & (ru[np.minimum(iu, n - 1)] == eu)
            & (ru[np.minimum(iv, n - 1)] == ev)
        )
        iu, iv = iu[ok], iv[ok]
        su = np.concatenate([iu, iv])
        sv = np.concatenate([iv, iu])
        w_out = np.zeros(n, dtype=np.int64)
        np.add.at(w_out, su, m[sv])
        deg = m - 1 + w_out
        isc = deg >= min_neighbors

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(iu.tolist(), iv.tolist()):
            if isc[a] and isc[b]:
                pa, pb = int(ru[a]), int(ru[b])
                if pa not in parent:
                    parent[pa] = pa
                if pb not in parent:
                    parent[pb] = pb
                ra, rb = find(pa), find(pb)
                if ra != rb:
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        lab = np.full(n, -1, dtype=np.int64)
        for i in np.flatnonzero(isc).tolist():
            pid = int(ru[i])
            lab[i] = find(pid) if pid in parent else pid
        big = np.int64(1) << 62
        bl = np.full(n, big, dtype=np.int64)
        mask = isc[sv] & ~isc[su]
        np.minimum.at(bl, su[mask], lab[sv[mask]])
        roles = np.where(
            isc, "core", np.where(bl < big, "border", "noise")
        )
        cid = np.where(isc, lab, np.where(bl < big, bl, np.int64(-1)))
        yield pd.DataFrame({"u": ru, "role": roles, "cluster_id": cid})

    return kern


def _kmeans_single_task_kernel(k: int, iters: int):
    """Exact integer Lloyd over ONE bounded quantized-point partition —
    the single-task Arrow fast path of kmeans_fixed_point. Replays the
    distributed loop verbatim: seeds = the k smallest vec_ids (centroid
    columns kept in ascending-cid order, so numpy's first-occurrence
    argmin IS the min-struct(dist, cid) tie-break), centroid update
    ``sum div count`` with the sign-adjusted truncation toward zero
    (coordinate sums can be negative; numpy ``//`` floors where Spark
    ``div`` truncates — the embedding_pca_project tdiv lesson), empty
    clusters keep their previous centroid."""

    def kern(batches):
        import numpy as np
        import pandas as pd

        ids, vecs = [], []
        for pdf in batches:
            ids.append(pdf["vec_id"].to_numpy())
            vecs.extend(pdf["qv"].tolist())
        if not ids:
            return
        vid = np.concatenate(ids).astype(np.int64)
        x = np.asarray(vecs, dtype=np.int64)
        order = np.argsort(vid, kind="stable")
        vid = vid[order]
        x = x[order]
        cent = x[:k].copy()  # seed rows, ascending vec_id == cid order
        cids = vid[:k].copy()

        def assign(c):
            # exact int64 squared L2 per centroid column; argmin's
            # first-occurrence rule == ties to the smallest cid
            d = np.empty((len(vid), len(c)), dtype=np.int64)
            for j in range(len(c)):
                diff = x - c[j]
                d[:, j] = np.einsum("ij,ij->i", diff, diff)
            best = d.argmin(axis=1)
            return best, d[np.arange(len(vid)), best]

        for _ in range(iters):
            best, _dist = assign(cent)
            for j in range(k):
                m = best == j
                n = int(m.sum())
                if n == 0:
                    continue  # empty cluster keeps its centroid
                sv = x[m].sum(axis=0)
                q = sv // n
                # floor -> truncation toward zero on negative sums
                q = q + ((sv - q * n != 0) & (sv < 0))
                cent[j] = q
        best, dist = assign(cent)
        yield pd.DataFrame(
            {"vec_id": vid, "cid": cids[best], "dist": dist}
        )

    return kern


def quantize_vectors(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> DataFrame:
    """(id, qv: array<bigint>) — coordinates in exact integer
    micro-units. float->double widening is exact, the double product is
    correctly rounded (hence engine-identical), floor is floor."""
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"transform({vec_col}, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {scale}.0) AS BIGINT))"
        ).alias("qv"),
    )


def _assign(pts: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid, dist): nearest centroid by exact integer squared
    L2, ties to the smallest cid (lexicographic struct-min)."""
    d = pts.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        F.aggregate(
            F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist"),
    )
    best = d.groupBy("vec_id").agg(F.min(F.struct("dist", "cid")).alias("b"))
    return best.select("vec_id", F.col("b.cid").alias("cid"), F.col("b.dist").alias("dist"))


def kmeans_fixed_point(
    emb: DataFrame,
    *,
    k: int = 10,
    iters: int = 3,
    scale: int = 10**6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``iters`` Lloyd iterations; returns the final assignment
    (vec_id, cid, dist). Seeds = the quantized vectors of the k
    smallest ids (content-free deterministic seeding); a cluster that
    empties keeps its previous centroid (coalesce), exactly as the
    unrolled oracle does."""
    pts = quantize_vectors(
        emb, id_col=id_col, vec_col=vec_col, scale=scale
    ).transform(sizing.materialize, "kmeans points, size the gate")
    # ONE aggregate on the materialized frame sizes the gate (ADVICE
    # r14): ragged frames (min dim != max dim) would crash np.asarray in
    # the kernel, so they provably fall through to the distributed loop;
    # the cell bound charges the n x k distance matrix as well as the
    # n x dims point matrix.
    row = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size("qv")).alias("dmin"),
        F.max(F.size("qv")).alias("dmax"),
    ).first()
    n, dmin, dmax = row["n"], row["dmin"], row["dmax"]
    fast = sizing.single_task(
        pts,
        _kmeans_single_task_kernel(k, iters),
        "vec_id long, cid long, dist long",
        name="kmeans",
        max_rows=KMEANS_SINGLE_TASK_MAX_CELLS,
        rows=n * (max(dmax or 0, 1) + k),
        requires=dmin is not None and dmin == dmax,
    )
    if fast is not None:
        return fast
    cent = (
        pts.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
        .transform(sizing.materialize, "kmeans seed centroids")
    )
    for _ in range(iters):
        asg = _assign(pts, cent)
        sums = (
            asg.join(pts, "vec_id")
            .select("cid", F.posexplode("qv").alias("p", "v"))
            .groupBy("cid", "p")
            .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
        )
        newc = (
            sums.select("cid", "p", F.expr("sv div n").alias("cval"))
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(p, cval))),"
                    " s -> s.cval)"
                ).alias("ncv")
            )
        )
        cent = (
            cent.join(newc, "cid", "left")
            .select("cid", F.coalesce("ncv", "cv").alias("cv"))
            .transform(sizing.materialize, "kmeans centroids, per round")
        )
    return _assign(pts, cent)


def kmeans_cluster_report(
    emb: DataFrame,
    *,
    k: int = 10,
    iters: int = 3,
    scale: int = 10**6,
    label_col: str = "label",
) -> DataFrame:
    """Per-cluster summary of the final assignment: size, exact integer
    inertia, and the majority true label (tie to the smallest label) —
    the purity view that makes the clustering auditable against the
    embeddings' planted labels. Output bounded by k rows; the majority
    window partitions by cid over a k x |labels| aggregate."""
    asg = kmeans_fixed_point(emb, k=k, iters=iters, scale=scale)
    agg = asg.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"), F.sum("dist").alias("inertia")
    )
    lab = (
        asg.join(emb.select("vec_id", F.col(label_col).cast("long").alias("lbl")), "vec_id")
        .groupBy("cid", "lbl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("cid").orderBy(F.col("cnt").desc(), F.col("lbl").asc())
    maj = lab.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        agg.join(maj, "cid")
        .select(
            F.col("cid").cast("double").alias("cid_d"),
            F.col("n").cast("double").alias("n_d"),
            F.col("inertia").cast("double").alias("inertia_d"),
            F.col("lbl").cast("double").alias("majority_label_d"),
            F.col("cnt").cast("double").alias("majority_n_d"),
        )
        .orderBy("cid_d")
    )


def dbscan_from_pairs(
    vertices: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "vec_id",
    a_col: str = "vec_a",
    b_col: str = "vec_b",
    min_neighbors: int = 2,
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996 — public
    method, independently implemented) given a PRECOMPUTED
    eps-neighborhood pair list: (id, role, cluster_id) for EVERY vertex.

    The expensive step of DBSCAN — the eps-range query — is exactly the
    near-dup pair problem this engine already solves at scale (blocked
    GEMM / sign-LSH with exact rescoring), so the operator takes the
    pair list as input and reduces the rest to integer-exact relational
    algebra:

    - core points: >= ``min_neighbors`` eps-neighbors (the point itself
      is NOT counted, i.e. classic minPts = min_neighbors + 1);
    - clusters: connected components over CORE-CORE edges (min-core-id
      labels via the star-contraction loop — deterministic, engine- and
      partitioning-independent);
    - border points: non-core with >= 1 core neighbor, assigned the
      MINIMUM cluster id among their core neighbors (classic DBSCAN is
      order-dependent here; the min rule makes it deterministic);
    - noise: everything else, cluster_id = -1.

    Scale shape: the pair frame is localCheckpointed ONCE (it is an
    expensive lazy GEMM/LSH DAG used by degree, core-edge, and border
    branches), every step is a key join / groupBy (no all-pairs), and
    the components loop partitioning is sized to the measured core-edge
    count inside ``connected_components``. At 100 TB the plan holds:
    labels stay proportional to the (sparse) eps-graph, not the corpus.

    Reference parity: no clustering exists in the reference (its ML
    surface is train-then-score, train.py:288-372); DBSCAN is a
    north-star training-data operator (semantic outlier screening).
    """
    from .graph import connected_components

    e = pairs.select(
        F.col(a_col).cast("long").alias("u"), F.col(b_col).cast("long").alias("v")
    ).transform(sizing.materialize, "dbscan pair edges")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    core = deg.where(F.col("d") >= min_neighbors).select("u")
    core_edges = sym.join(core, "u").join(
        core.select(F.col("u").alias("v")), "v"
    )
    comp = connected_components(
        core_edges,
        core.select(F.col("u").alias(id_col)),
        src="u",
        dst="v",
        id_col=id_col,
    )
    core_lab = comp.select(
        F.col(id_col).alias("u"), F.col("component").alias("cluster_id")
    )
    border_lab = (
        sym.join(core_lab.select(F.col("u").alias("v"), "cluster_id"), "v")
        .join(core, "u", "left_anti")
        .groupBy("u")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    out = (
        vertices.select(F.col(id_col).cast("long").alias("u"))
        .join(core_lab.withColumnRenamed("cluster_id", "core_cid"), "u", "left")
        .join(border_lab.withColumnRenamed("cluster_id", "border_cid"), "u", "left")
    )
    return out.select(
        F.col("u").alias(id_col),
        F.when(F.col("core_cid").isNotNull(), F.lit("core"))
        .when(F.col("border_cid").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
        .alias("role"),
        F.coalesce("core_cid", "border_cid", F.lit(-1))
        .cast("long")
        .alias("cluster_id"),
    )


def dbscan_from_weighted_pairs(
    members: DataFrame,
    rep_pairs: DataFrame,
    *,
    id_col: str = "vec_id",
    rep_col: str = "rep",
    a_col: str = "vec_a",
    b_col: str = "vec_b",
    min_neighbors: int = 2,
) -> DataFrame:
    """dbscan_from_pairs with EXACT-duplICATE points collapsed to
    weighted representatives — the scale fix for duplicate-heavy
    corpora, where the expanded eps-graph carries a clique per
    duplicate group (quadratic in multiplicity: the r8 100x stress
    killed the JVM on exactly this — 5k originals x 100 replicas =
    24.7M intra-clique edges before a single informative pair).

    ``members``: (id, rep) with rep = MIN id among copies of the same
    point; ``rep_pairs``: the eps pair list over DISTINCT points only.
    Output is IDENTICAL to dbscan_from_pairs over the expanded pair
    list (pinned by test):

    - every copy of rep r has the same eps-neighborhood, of weighted
      size (m_r - 1) + sum(m) over r's distinct eps-neighbors
      (self-similarity puts same-point copies inside any eps ball), so
      core status is per-rep;
    - rep-level components of core-core edges label clusters by min
      rep, which IS the min member id (rep = min of its copies);
    - border/noise per rep, inherited by every copy.

    Every step is a key join/groupBy on O(distinct pairs) edges.
    """
    from .graph import connected_components

    members = members.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(rep_col).cast("long").alias("u"),
    ).transform(sizing.materialize, "weighted dbscan members")
    # mw materialized: the gate below needs its count, and on the
    # distributed path deg/nbr_w both consume it (guide §2.4)
    mw = (
        members.groupBy("u")
        .agg(F.count(F.lit(1)).alias("m"))
        .transform(sizing.materialize, "weighted dbscan multiplicities, size the gate")
    )
    e = rep_pairs.select(
        F.col(a_col).cast("long").alias("u"),
        F.col(b_col).cast("long").alias("v"),
    ).transform(sizing.materialize, "weighted dbscan rep edges")
    inp = mw.select("u", "m", F.lit(None).cast("long").alias("v")).unionByName(
        e.select("u", F.lit(None).cast("long").alias("m"), "v")
    )
    rep_lab = sizing.single_task(
        inp,
        _dbscan_single_task_kernel(min_neighbors),
        "u long, role string, cluster_id long",
        name="dbscan",
        max_rows=DBSCAN_SINGLE_TASK_MAX_ROWS,
        # rep rows plus both directions of every eps edge
        rows=mw.count() + 2 * e.count(),
    )
    if rep_lab is not None:
        return members.join(F.broadcast(rep_lab), "u").select(
            F.col("id").alias(id_col), "role", "cluster_id"
        )
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nbr_w = (
        sym.join(mw.select(F.col("u").alias("v"), F.col("m").alias("mv")), "v")
        .groupBy("u")
        .agg(F.sum("mv").alias("w_out"))
    )
    deg = mw.join(nbr_w, "u", "left").select(
        "u",
        (F.col("m") - 1 + F.coalesce("w_out", F.lit(0))).alias("d"),
    )
    core = deg.where(F.col("d") >= min_neighbors).select("u")
    core_edges = sym.join(core, "u").join(
        core.select(F.col("u").alias("v")), "v"
    )
    comp = connected_components(
        core_edges,
        core.select(F.col("u").alias("id")),
        src="u",
        dst="v",
        id_col="id",
    )
    core_lab = comp.select(
        F.col("id").alias("u"), F.col("component").alias("cluster_id")
    )
    border_lab = (
        sym.join(core_lab.select(F.col("u").alias("v"), "cluster_id"), "v")
        .join(core, "u", "left_anti")
        .groupBy("u")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    out = (
        members.join(
            core_lab.withColumnRenamed("cluster_id", "core_cid"), "u", "left"
        ).join(
            border_lab.withColumnRenamed("cluster_id", "border_cid"),
            "u",
            "left",
        )
    )
    return out.select(
        F.col("id").alias(id_col),
        F.when(F.col("core_cid").isNotNull(), F.lit("core"))
        .when(F.col("border_cid").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
        .alias("role"),
        F.coalesce("core_cid", "border_cid", F.lit(-1))
        .cast("long")
        .alias("cluster_id"),
    )

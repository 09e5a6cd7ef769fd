"""Graph materialization: canonical node/edge tables (SURVEY §7.1 step 5).

nodes: one row per canonical entity (entity_id = xxhash64(canonical) — the
       deterministic id scheme from operators/linking.py).
edges: one row per (subj_id, pred, obj_id) with evidence counts, built from
       canonicalized triples. Aggregation is a plain hash agg → map-side
       partial combine; the shuffle key (edge identity) is the natural
       partitioning for downstream graph consumers.

Both preserve provenance counts rather than raw evidence rows; the raw
triples table remains the evidence store (pointer, not copy — at 100 TB
duplicating evidence into edges would double the write volume).
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import iterate


def _directed_edges(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    cast: bool = True,
    symmetric: bool = False,
) -> DataFrame:
    """Simple directed view (src, dst): self-loops dropped, parallel
    edges collapsed, ids cast to long unless `cast=False`. `symmetric`
    adds every edge's reverse first (the undirected graph as both
    directions). Callers choose their own lineage cut."""
    s, d = F.col(src_col), F.col(dst_col)
    if cast:
        s, d = s.cast("long"), d.cast("long")
    e = edges.select(s.alias("src"), d.alias("dst"))
    if symmetric:
        e = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    return e.where(F.col("src") != F.col("dst")).distinct()


def _undirected_edges(
    edges: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """Canonical undirected simple view (a, b) with a < b: one row per
    adjacent vertex pair, self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )


def _vertex_ids(e: DataFrame) -> DataFrame:
    """Distinct endpoint ids (id) of an (src, dst) edge frame."""
    return (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )


def build_nodes(
    canon_map: DataFrame, canonical_triples: DataFrame | None = None
) -> DataFrame:
    """canon_map(surface, entity_id, canonical, ent_type, n_mentions,
    entity_mentions) → nodes(entity_id, canonical, ent_type, n_mentions,
    n_surfaces).

    When `canonical_triples` is given, nodes additionally cover every
    triple ENDPOINT — surfaces outside the linking scope (e.g. spans
    longer than link_max_tokens) are their own canonical form with
    ent_type null; without this, edges would dangle."""
    linked = canon_map.groupBy("entity_id", "canonical").agg(
        F.max(F.struct(F.col("n_mentions"), F.col("ent_type")))
        .getField("ent_type")
        .alias("ent_type"),
        F.sum("n_mentions").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_surfaces"),
    )
    if canonical_triples is None:
        return linked
    endpoints = (
        canonical_triples.select(
            F.col("subj_id").alias("entity_id"),
            F.col("subj_canonical").alias("canonical"),
        )
        .union(
            canonical_triples.select(
                F.col("obj_id").alias("entity_id"),
                F.col("obj_canonical").alias("canonical"),
            )
        )
        .distinct()
    )
    unlinked = endpoints.join(
        linked.select("entity_id"), "entity_id", "left_anti"
    ).select(
        "entity_id",
        "canonical",
        F.lit(None).cast("string").alias("ent_type"),
        F.lit(0).cast("long").alias("n_mentions"),
        F.lit(1).cast("long").alias("n_surfaces"),
    )
    return linked.unionByName(unlinked)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 15,
    tol: float = 1e-6,
    src_col: str = "subj_id",
    dst_col: str = "obj_id",
    init_ranks: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Damped PageRank over the entity graph → (entity_id, rank).

    Driver-controlled power iteration (Catalyst cannot iterate — same
    pattern as connected components): contributions = rank/out_degree
    pushed along edges, rank' = (1−d)/N + d·(Σ contributions + dangling
    mass/N), one `iterate.barrier` per iteration. Converges when the L1
    delta drops below `tol`. Each iteration is one equi-join + one
    hash agg on int64 keys — the canonical iterative-graph shuffle shape.

    Exactly ONE driver job per iteration: the iteration-k aggregate
    computes BOTH the L1 delta (convergence) and the dangling mass the
    NEXT iteration needs (Σ rank over out-degree-null vertices), so
    dangling mass is carried forward instead of re-collected. On a real
    cluster at 15 iterations that halves the job round-trips.

    `init_ranks` warm-starts the iteration from a previous result
    (any (id, rank)-shaped frame, e.g. a persisted rank table from
    before an edge append): known vertices take their old rank, new
    vertices 1/n, and the vector is renormalized to sum 1. It converges
    to the same values as a cold run (parity-pinned in
    test_graph_communities.py), but fewer rounds are NOT guaranteed:
    the round-to-round delta contracts by `damping` from either start,
    and the old ranks can carry more weight than uniform on the new
    graph's slowly decaying modes (appending a 3-edge cycle to a
    5-vertex graph needs 120 warm rounds against 25 cold at tol=1e-9).
    Costs one extra pre-loop job (the normalization sum + warm
    dangling mass together).

    `weight_col` makes the walk WEIGHTED: contributions become
    rank·w/Σ_out w instead of rank/out_degree — the KG edge table's
    `n_evidence` is the natural weight (evidence-weighted centrality).
    Parallel (src, dst) rows SUM their weights (the multigraph fold);
    non-positive weights are dropped (a zero-weight edge carries no
    walk mass, and dropping them keeps every out-weight sum strictly
    positive). The unweighted path is untouched: it still DISTINCTs
    multi-edges, so `weight_col` with all-1 weights equals unweighted
    only on simple graphs (multiplicity is the point of weights).
    """
    if weight_col is None:
        e = _directed_edges(
            edges, src_col, dst_col, cast=False
        ).localCheckpoint()
        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    else:
        e = (
            edges.select(
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
                F.col(weight_col).cast("double").alias("w"),
            )
            .where((F.col("src") != F.col("dst")) & (F.col("w") > 0))
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
            .localCheckpoint()
        )
        out_deg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    # vertices carry their out-degree for the whole loop (deg null =
    # dangling) — one join here instead of one per iteration; one
    # pre-loop job: n and the dangling-vertex count together
    verts, stats = iterate.barrier(
        _vertex_ids(e).join(
            out_deg.withColumnRenamed("src", "id"), "id", "left"
        ),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("deg").isNull(), 1).otherwise(0)).alias("nd"),
    )
    n = stats["n"]
    if n == 0:
        return verts.select("id").withColumn("rank", F.lit(0.0)).select(
            F.col("id").alias("entity_id"), "rank"
        )
    if init_ranks is None:
        # uniform initial ranks: Σ 1/n over dangling
        dangling = stats["nd"] / n
        ranks = verts.withColumn("rank", F.lit(1.0 / n))
    else:
        ic = init_ranks.columns
        prev = init_ranks.select(
            F.col(ic[0]).cast("long").alias("id"),
            F.col(ic[1]).cast("double").alias("r0"),
        )
        warm, ws = iterate.barrier(
            verts.join(prev, "id", "left").select(
                "id",
                "deg",
                F.coalesce("r0", F.lit(1.0 / n)).alias("r0"),
            ),
            F.sum("r0").alias("s"),
            F.coalesce(
                F.sum(F.when(F.col("deg").isNull(), F.col("r0"))),
                F.lit(0.0),
            ).alias("m"),
        )
        s = ws["s"] or 1.0
        dangling = ws["m"] / s
        ranks = warm.select(
            "id", "deg", (F.col("r0") / F.lit(s)).alias("rank")
        )
    contrib = (
        F.col("rank") / F.col("deg")
        if weight_col is None
        else F.col("rank") * F.col("w") / F.col("deg")
    )
    return _power_iterate(
        ranks,
        e,
        contrib,
        F.lit((1.0 - damping) / n),
        lambda m: F.lit(m / n),
        dangling,
        damping,
        max_iter,
        tol,
    )


def _power_iterate(
    ranks: DataFrame,
    e: DataFrame,
    contrib: Column,
    restart: Column,
    dangle_share: Callable[[float], Column],
    dangling: float,
    damping: float,
    max_iter: int,
    tol: float,
) -> DataFrame:
    """The PageRank power-iteration loop shared by `pagerank` and
    `personalized_pagerank`: rank' = restart + d·(inflow +
    dangle_share(m)), where inflow sums `contrib` (over ranks ⋈ edges)
    per dst and m is the previous round's dangling mass. `ranks` is
    (id, deg, …, rank); every column besides rank rides along
    unchanged. Stops after `max_iter` rounds or once the L1 delta is
    below `tol` → (entity_id, rank)."""
    keep = [c for c in ranks.columns if c != "rank"]
    for _ in range(max_iter):
        contribs = (
            ranks.join(e, ranks.id == e.src)
            .select(F.col("dst").alias("id"), contrib.alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        new_ranks = (
            ranks.select(*keep, F.col("rank").alias("old_rank"))
            .join(contribs, "id", "left")
            .select(
                *keep,
                "old_rank",
                (
                    restart
                    + F.lit(damping)
                    * (
                        F.coalesce("inflow", F.lit(0.0))
                        + dangle_share(dangling)
                    )
                ).alias("rank"),
            )
        )
        # one job: materializes this round's ranks and measures both the
        # convergence delta and the next round's dangling mass
        new_ranks, row = iterate.barrier(
            new_ranks,
            F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("d"),
            F.coalesce(
                F.sum(F.when(F.col("deg").isNull(), F.col("rank"))),
                F.lit(0.0),
            ).alias("m"),
        )
        dangling = row["m"]
        ranks = new_ranks.select(*keep, "rank")
        if row["d"] < tol:
            break
    return ranks.select(F.col("id").alias("entity_id"), "rank")


def bfs_distances(
    edges: DataFrame,
    landmarks: DataFrame | list[int],
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Multi-source BFS shortest hop counts → (landmark, id, hop).

    KG reachability: for each landmark entity, every vertex reachable
    within `max_hops` directed hops and its shortest distance (the
    GraphFrames `shortestPaths` landmark semantics; GLiNER itself has no
    graph analytics — this serves neighborhood/reachability queries over
    the materialized edge table, e.g. "everything within 3 hops of this
    canonical entity").

    Driver-controlled frontier expansion (`iterate.frontier_loop`):
    each round joins the CURRENT frontier one hop along edges (int64
    equi-join on src) and anti-joins vertices already reached (first
    reach = shortest hop, so no min-aggregate is ever needed). Rounds
    are bounded by `max_hops` and stop early when the frontier
    empties, so the loop is O(max_hops) joins regardless of graph
    size, and per-round work is proportional to the FRONTIER, not the
    reached set. At 100 TB the edge table is bucketed
    on src so every round's probe joins Exchange-free on the big side;
    the anti-join key (landmark, id) is the natural partitioning of the
    accumulating distance table.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    if isinstance(landmarks, DataFrame):
        lm = landmarks.select(
            F.col(landmarks.columns[0]).cast("long").alias("landmark")
        ).distinct()
    else:
        lm = edges.sparkSession.createDataFrame(
            pd.DataFrame({"landmark": landmarks}, dtype="int64"),
            "landmark long",
        )
    seed = lm.select(
        "landmark",
        F.col("landmark").alias("id"),
        F.lit(0).cast("int").alias("hop"),
    )

    def step(hop, frontier, dist):
        return (
            frontier.join(e, frontier.id == e.src)
            .select("landmark", F.col("dst").alias("id"))
            .distinct()
            .join(
                dist.select("landmark", "id"),
                ["landmark", "id"],
                "left_anti",
            )
            .select(
                "landmark", "id", F.lit(hop).cast("int").alias("hop")
            )
        )

    return iterate.frontier_loop(seed, step, max_hops)


def build_edges(canonical_triples: DataFrame) -> DataFrame:
    """Canonicalized triples (subj_id, subj_canonical, pred, obj_id,
    obj_canonical, score, …) → edges with evidence stats."""
    return canonical_triples.groupBy(
        "subj_id", "subj_canonical", "pred", "obj_id", "obj_canonical"
    ).agg(
        F.count(F.lit(1)).alias("n_evidence"),
        F.max("score").alias("score"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def link_predict(
    edges: DataFrame,
    max_degree: int = 64,
    min_common: int = 1,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Common-neighbor link prediction with Adamic-Adar weighting over
    an UNDIRECTED view of the edge list → (a, b, n_common, aa) for
    non-adjacent vertex pairs sharing >= min_common neighbors. The KG-
    completion primitive: aa = sum over shared neighbors m of
    1/ln(deg(m)) (Adamic & Adar 2003) — a low-degree shared neighbor is
    stronger evidence for the missing edge (a, b) than a hub.

    Scale shape: one self-join of the adjacency on the MIDDLE vertex
    (int64 equi-join) emits each wedge once (neighbor pair ordered
    a < b), one hash agg on (a, b) folds count + the AA sum, one
    left_anti against the existing undirected edges removes known
    pairs. Wedge fan-out is quadratic in the middle's degree, so
    middles with deg > max_degree are EXCLUDED (the standard hub cap:
    a hub's 1/ln(deg) contribution is negligible while its pair
    blow-up is the whole skew problem; the cap is part of the operator
    contract, mirrored by the oracle). aa is rounded to 6dp so the
    cross-engine double sum is comparison-stable.

    A degree-1 middle cannot form a wedge, so ln(deg) >= ln 2 — no
    division-by-zero path exists.
    """
    und = _undirected_edges(edges, src_col, dst_col)
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    mid = adj.join(deg.where(F.col("deg") <= max_degree), "v")
    pairs = (
        mid.alias("l")
        .join(mid.alias("r"), "v")
        .where(F.col("l.n") < F.col("r.n"))
        .select(
            F.col("l.n").alias("a"),
            F.col("r.n").alias("b"),
            F.col("l.deg").alias("deg"),
        )
    )
    cand = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.round(F.sum(F.lit(1.0) / F.log(F.col("deg"))), 6).alias("aa"),
    )
    return cand.join(und, ["a", "b"], "left_anti").where(
        F.col("n_common") >= min_common
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    damping: float = 0.85,
    max_iter: int = 15,
    tol: float = 1e-6,
    src_col: str = "subj_id",
    dst_col: str = "obj_id",
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED set)
    → (entity_id, rank): relevance of every entity GIVEN the seeds —
    the related-entity recommendation primitive over the KG.

    Runs pagerank's power-iteration loop with the uniform teleport
    vector replaced by p(v) = 1/|seeds| on seeds, 0 elsewhere:

        rank' = (1-d)*p + d*(inflow + dangling_mass*p)

    so both the restart and the dangling mass return to the seeds, and
    vertices unreachable from the seed set stay at exactly 0. Seeds are
    added to the vertex set even when isolated (an isolated seed is
    dangling), keeping total mass at 1.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs >= 1 seed")
    seed_ids = sorted({int(s) for s in seeds})
    spark = edges.sparkSession
    e = _directed_edges(
        edges, src_col, dst_col, cast=False
    ).localCheckpoint()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    seed_df = spark.createDataFrame(
        pd.DataFrame({"id": seed_ids}, dtype="int64"), "id long"
    )
    verts, stats = iterate.barrier(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .union(seed_df)
        .distinct()
        .join(out_deg.withColumnRenamed("src", "id"), "id", "left")
        .withColumn(
            "p",
            F.when(
                F.col("id").isin(seed_ids),
                F.lit(1.0 / len(seed_ids)),
            ).otherwise(F.lit(0.0)),
        ),
        F.coalesce(
            F.sum(F.when(F.col("deg").isNull(), F.col("p"))), F.lit(0.0)
        ).alias("m"),
    )
    return _power_iterate(
        verts.withColumn("rank", F.col("p")),
        e,
        F.col("rank") / F.col("deg"),
        F.lit(1.0 - damping) * F.col("p"),
        lambda m: F.lit(m) * F.col("p"),
        stats["m"],
        damping,
        max_iter,
        tol,
    )


def _walk_starts(
    e: DataFrame, walk_len: int, walks_per_vertex: int
) -> DataFrame:
    """Every walk's start → (start_id, rep): `walks_per_vertex` reps
    from each vertex of the (src, dst) frame `e`. Both walkers seed
    here."""
    if walk_len < 0 or walks_per_vertex < 1:
        raise ValueError("walk_len >= 0 and walks_per_vertex >= 1")
    return _vertex_ids(e).select(
        F.col("id").alias("start_id"),
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.lit(walks_per_vertex - 1).cast("long"),
            )
        ).alias("rep"),
    )


def _md5_uniform(seed: int, *parts: Column) -> Column:
    """The walkers' cross-engine uniform: md5("{seed}|{part}|…")'s first
    8 hex digits as a long in [0, 2^32). Python's hashlib and DuckDB
    reproduce it bit-exactly."""
    key = F.concat_ws("|", F.lit(seed), *parts)
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


def random_walks(
    edges: DataFrame,
    walk_len: int = 10,
    walks_per_vertex: int = 1,
    seed: int = 7,
    src_col: str = "subj_id",
    dst_col: str = "obj_id",
) -> DataFrame:
    """Deterministic DeepWalk-style random walks over the directed
    graph → (start_id, rep, step, vertex): `walks_per_vertex` walks of
    up to `walk_len` steps from every vertex — the graph→sequence
    corpus generator feeding embedding training (node2vec with p=q=1).

    The neighbor pick is the repo's cross-engine uniform: the walk at
    (start, rep, step, cur) takes neighbor index
    md5("{seed}|{start}|{rep}|{step}|{cur}")[:8 hex] mod out_degree,
    which Python's hashlib and DuckDB reproduce bit-exactly — walks
    are a pure function of (graph, seed), so regenerating a shard
    yields the identical corpus (resume/backfill safe).

    Scale shape: neighbors are indexed ONCE (row_number over (src,
    dst) — the only window), then each step is two int64 equi-joins
    (frontier⨝degree to compute the pick, (cur, idx)⨝(src, idx) to
    take it) — no adjacency arrays, so a hub costs one edge row per
    walk that touches it, not a collected neighbor list. Walks
    reaching a dangling vertex terminate (the degree join drops
    them); per-step work is proportional to the LIVE walk count.
    Runs on `iterate.frontier_loop`: the loop ends early once every
    walk has terminated.
    """
    from pyspark.sql import Window

    e = _directed_edges(edges, src_col, dst_col)
    starts = _walk_starts(e, walk_len, walks_per_vertex).select(
        "start_id",
        "rep",
        F.lit(0).cast("long").alias("step"),
        F.col("start_id").alias("vertex"),
    )
    w = Window.partitionBy("src").orderBy("dst")
    iedges = e.withColumn(
        "idx", (F.row_number().over(w) - 1).cast("long")
    ).localCheckpoint()
    # distinct column names on each probe side: deg and iedges share
    # lineage, and a bare self-join on src would be ambiguous
    deg = (
        iedges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .withColumnRenamed("src", "dsrc")
    )
    step_edges = iedges.select(
        F.col("src").alias("esrc"),
        F.col("idx").alias("eidx"),
        F.col("dst").alias("edst"),
    )

    def step(t, frontier, _):
        pick = F.pmod(
            _md5_uniform(
                seed, F.col("start_id"), F.col("rep"), F.lit(t - 1),
                F.col("vertex"),
            ),
            F.col("deg"),
        )
        return (
            frontier.join(deg, frontier.vertex == F.col("dsrc"))
            .withColumn("pick", pick)
            .join(
                step_edges,
                (F.col("vertex") == F.col("esrc"))
                & (F.col("pick") == F.col("eidx")),
            )
            .select(
                "start_id",
                "rep",
                F.lit(t).cast("long").alias("step"),
                F.col("edst").alias("vertex"),
            )
        )

    return iterate.frontier_loop(starts, step, walk_len)


def node2vec_walks(
    edges: DataFrame,
    walk_len: int = 10,
    p: float = 1.0,
    q: float = 1.0,
    walks_per_vertex: int = 1,
    seed: int = 7,
    src_col: str = "subj_id",
    dst_col: str = "obj_id",
) -> DataFrame:
    """Deterministic node2vec walks (Grover & Leskovec 2016) →
    (start_id, rep, step, vertex): second-order biased walks where the
    unnormalized weight of stepping cur→w given the previous vertex is
    1/p for the return edge (w == prev), 1 when prev→w is an edge (the
    triangle/BFS direction), 1/q otherwise (the outward/DFS direction).
    p = q = 1 degenerates to DeepWalk; the first step (no prev) is
    uniform. Directed semantics: "w at distance 1 from prev" means the
    directed edge prev→w exists.

    The weighted pick stays a pure function of (graph, seed):
    u = md5("{seed}|n2v|{start}|{rep}|{step}|{cur}")[:8] / 2^32 (the
    repo's cross-engine uniform), candidates ordered by dst carry a
    running weight sum, and the walk takes the unique candidate whose
    cumulative interval contains u·total. The running sum adds the
    same operands in the same (dst-ordered) sequence on every engine,
    so the python replay in test_node2vec.py is EXACT, not
    statistical — shard regeneration yields the identical corpus.

    Scale shape per step: one int64 equi-join expands live walks to
    their candidate edges (a hub costs one row per visiting walk, no
    adjacency arrays), one (prev, w) equi-join probes the
    triangle-edge predicate against the edge table, and the pick is a
    per-walk window whose partitions are deg(cur) rows — bounded by
    the max out-degree, never by graph size. Walks terminate at
    dangling vertices; per-step work ∝ live walks. Driver loop on
    `iterate.frontier_loop`.
    """
    from pyspark.sql import Window

    if p <= 0 or q <= 0:
        raise ValueError("node2vec needs p > 0 and q > 0")
    e = _directed_edges(edges, src_col, dst_col).localCheckpoint()
    starts = _walk_starts(e, walk_len, walks_per_vertex).select(
        "start_id",
        "rep",
        F.lit(0).cast("long").alias("step"),
        F.lit(None).cast("long").alias("prev"),
        F.col("start_id").alias("vertex"),
    )
    probe = e.select(
        F.col("src").alias("psrc"), F.col("dst").alias("pdst")
    ).withColumn("is_nbr", F.lit(1))
    win = Window.partitionBy("start_id", "rep").orderBy("w")

    def step(t, frontier, _):
        u = _md5_uniform(
            seed, F.lit("n2v"), F.col("start_id"), F.col("rep"),
            F.lit(t - 1), F.col("vertex"),
        ).cast("double") / F.lit(float(2**32))
        cand = (
            frontier.join(e, frontier.vertex == e.src)
            .select(
                "start_id", "rep", "prev", "vertex",
                F.col("dst").alias("w"),
            )
            .join(
                probe,
                (F.col("prev") == F.col("psrc"))
                & (F.col("w") == F.col("pdst")),
                "left",
            )
            .withColumn(
                "alpha",
                F.when(F.col("w") == F.col("prev"), F.lit(1.0 / p))
                .when(F.col("is_nbr").isNotNull(), F.lit(1.0))
                .otherwise(F.lit(1.0 / q)),
            )
        )
        picked = (
            cand.withColumn(
                "cum",
                F.sum("alpha").over(
                    win.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
            .withColumn(
                "target",
                u
                * F.sum("alpha").over(
                    win.rowsBetween(
                        Window.unboundedPreceding,
                        Window.unboundedFollowing,
                    )
                ),
            )
            .where(
                (F.col("cum") > F.col("target"))
                & (F.col("cum") - F.col("alpha") <= F.col("target"))
            )
        )
        return picked.select(
            "start_id",
            "rep",
            F.lit(t).cast("long").alias("step"),
            F.col("vertex").alias("prev"),
            F.col("w").alias("vertex"),
        )

    walks = iterate.frontier_loop(starts, step, walk_len)
    return walks.select("start_id", "rep", "step", "vertex")


def _local_core_numbers(pairs) -> dict[int, int]:
    """Sequential Batagelj-Zaversnik (2003) min-degree peel via a lazy
    heap over (a, b) pairs — core_numbers' one-task finisher (on a graph
    that fits one task, every distributed round is pure scheduler
    latency)."""
    import heapq
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    heap = [(d, v) for v, d in deg.items()]
    heapq.heapify(heap)
    removed: set = set()
    core: dict[int, int] = {}
    k = 0
    while heap:
        d, v = heapq.heappop(heap)
        if v in removed or d != deg[v]:
            continue  # stale heap entry
        k = max(k, deg[v])
        core[v] = k
        removed.add(v)
        for u in adj[v]:
            if u not in removed:
                deg[u] -= 1
                heapq.heappush(heap, (deg[u], u))
    return core


def core_numbers(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Core number of every vertex of the undirected view → (v, core):
    the largest k such that v belongs to the k-core; isolated-by-dedup
    vertices never appear (no edges), leaf vertices get 1. A one-column
    density/centrality feature for entity curation — cheap to join onto
    nodes, robust to hubs (a hub wired to leaves has a LOW core number,
    unlike its degree or PageRank).

    Distributed path: iterated h-index refinement (Lu et al. 2016,
    "Vital nodes identification in complex networks"): h(v) starts at
    degree and each round becomes the H-index of the neighbors'
    current values; initialized at degree the sequence is monotone
    non-increasing and its fixpoint is exactly the coreness. Each
    round is one int64 equi-join (adjacency x current h) + one hash
    agg folding the neighbor values into a sorted array whose H-index
    is a pure expression, + one `iterate.barrier` whose Σ h collect
    materializes the round and detects the fixpoint (monotone, so an
    unchanged sum means every value is unchanged); the round count is
    a small graph property (12 on the 2M-edge bench graph) INDEPENDENT
    of k_max x onion depth — measured 1.75x faster than the
    level-restart peel it replaced (85.9s -> 49.2s at 2M edges), which
    paid one scheduler round per onion layer per level. Caveat: the
    per-vertex neighbor-value array materializes deg(v) ints in one
    aggregation buffer — fine for KG-scale hubs (a 10M-degree hub is a
    ~40 MB row); the bucketed two-phase H-index is the refinement if a
    corpus ever exceeds that. When the edge set fits one task
    (`iterate.fits_one_task`) the whole decomposition runs as ONE
    sequential Batagelj-Zaversnik pass in a single task (both sides
    pinned against the sequential oracle in test_kcore.py).
    """
    live, n_live = iterate.sized(_undirected_edges(edges, src_col, dst_col))
    if iterate.fits_one_task(n_live):

        def solve(t):
            core = _local_core_numbers(zip(*t.to_pydict().values()))
            return {"v": list(core), "core": list(core.values())}

        v = T.StructField("v", live.schema["a"].dataType)
        schema = T.StructType([v, T.StructField("core", T.IntegerType())])
        return iterate.one_task(live, solve, schema)
    adj = (
        live.select(F.col("a").alias("v"), F.col("b").alias("n"))
        .unionAll(
            live.select(F.col("b").alias("v"), F.col("a").alias("n"))
        )
        .localCheckpoint()
    )
    total = F.sum("core")
    h, row = iterate.barrier(
        adj.groupBy("v").agg(F.count(F.lit(1)).cast("int").alias("core")),
        total,
    )
    # H-index of the desc-sorted neighbor values: arr is sorted, so
    # h = |{i : arr[i] >= i}| (1-based) — a pure fold, no UDF
    h_index = F.expr(
        "aggregate(zip_with(arr, sequence(1, size(arr)),"
        " (x, i) -> case when x >= i then 1 else 0 end),"
        " 0, (acc, y) -> acc + y)"
    ).cast("int")
    while True:
        nh = adj.join(
            h.select(F.col("v").alias("n"), F.col("core").alias("hn")),
            "n",
        )
        h, new = iterate.barrier(
            nh.groupBy("v")
            .agg(F.sort_array(F.collect_list("hn"), asc=False).alias("arr"))
            .select("v", h_index.alias("core")),
            total,
        )
        # a sum over zero rows is NULL on both sides (empty graph)
        if new[0] == row[0]:
            return h
        row = new


def skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
) -> DataFrame:
    """Walk corpus (random_walks / node2vec_walks output) → weighted
    skip-gram training pairs (center, context, n): every ordered vertex
    pair co-occurring within `window` steps on the same walk, counted
    across the corpus — the word2vec-input generator that completes the
    DeepWalk/node2vec pipeline (graph → walks → pairs; the embedding
    GEMM itself is training and out of scope per SURVEY §2.11).

    Plan: one self-equi-join on the walk identity (start_id, rep) with
    a |Δstep| ≤ window residual, then a map-side-combining (center,
    context) count agg. Per-walk fan-out is bounded by
    (walk_len+1)·2·window — never graph-degree-dependent — and the
    aggregate's shuffle carries only distinct pairs. Deterministic
    because the walks are (md5-uniform picks), so shard regeneration
    reproduces the exact pair multiset.
    """
    if window < 1:
        raise ValueError("window >= 1")
    a = walks.select(
        "start_id",
        "rep",
        F.col("step").alias("_sa"),
        F.col("vertex").alias("center"),
    )
    b = walks.select(
        "start_id",
        "rep",
        F.col("step").alias("_sb"),
        F.col("vertex").alias("context"),
    )
    return (
        a.join(b, ["start_id", "rep"])
        .where(
            (F.abs(F.col("_sa") - F.col("_sb")) <= window)
            & (F.col("_sa") != F.col("_sb"))
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def k_truss(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 200,
) -> DataFrame:
    """Edges of the k-truss → canonical undirected (a, b), a < b: the
    maximal subgraph in which every edge participates in at least k−2
    triangles OF THAT SUBGRAPH. The edge-support analog of the k-core
    (`core_numbers`) — strictly stronger cohesion (a k-truss is a
    (k−1)-core but not vice versa), the standard dense-community
    extractor over the KG edge table where the k-core is too
    hub-lenient.

    Iterative peel, per round: one node-iterator triangle enumeration
    over the LIVE edges (two-hop int64 equi-join + closing semi-join,
    the same shape as motif.triangle_counts), an explode of each
    triangle into its three edges + one (a, b) hash agg for support,
    one join dropping edges below k−2, and one `iterate.barrier` whose
    count collect materializes the round and detects convergence. Work
    per round ∝ live wedges, which only shrinks. Converges when a round
    drops nothing (support is recomputed against the SURVIVING edges
    each round — peeling an edge can demote its triangle partners).
    """
    if k < 2:
        raise ValueError("k-truss needs k >= 2")
    live = _undirected_edges(edges, src_col, dst_col)
    thresh = k - 2
    if thresh == 0:
        return live  # every edge has >= 0 support
    live, n_live = iterate.sized(live)
    for _ in range(max_rounds):
        if n_live == 0:
            return live
        tri = (
            live.alias("ab")
            .join(live.alias("bc"), F.col("ab.b") == F.col("bc.a"))
            .select(
                F.col("ab.a").alias("x"),
                F.col("ab.b").alias("y"),
                F.col("bc.b").alias("z"),
            )
            .join(
                live.alias("ac"),
                (F.col("x") == F.col("ac.a"))
                & (F.col("z") == F.col("ac.b")),
                "left_semi",
            )
        )
        support = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionAll(
                tri.select(F.col("y").alias("a"), F.col("z").alias("b"))
            )
            .unionAll(
                tri.select(F.col("x").alias("a"), F.col("z").alias("b"))
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("supp"))
        )
        keep, n_keep = iterate.sized(
            live.join(support, ["a", "b"], "left")
            .where(F.coalesce("supp", F.lit(0)) >= thresh)
            .select("a", "b")
        )
        if n_keep == n_live:
            return keep
        live, n_live = keep, n_keep
    raise RuntimeError(f"k_truss did not converge in {max_rounds} rounds")


def _local_scc(pairs) -> dict[int, int]:
    """Iterative Tarjan over (src, dst) pairs → {vertex: min id of its
    SCC}. The one-task finisher of strongly_connected_components (same
    rationale as _local_core_numbers / linking's union-find finisher:
    once the remaining graph fits one task, distributed phases are pure
    scheduler latency)."""
    adj: dict[int, list[int]] = {}
    verts: set[int] = set()
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, []).append(d)
        verts.add(s)
        verts.add(d)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    comp: dict[int, int] = {}
    counter = 0
    for root in sorted(verts):
        if root in index:
            continue
        # explicit DFS stack of (vertex, iterator position)
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            nbrs = adj.get(v, ())
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                rep = min(members)
                for w in members:
                    comp[w] = rep
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    return comp


def strongly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_phases: int = 50,
) -> DataFrame:
    """Strongly connected components of the DIRECTED graph →
    (id, component), component = the smallest vertex id in the SCC (a
    canonical, engine-independent representative). The directed
    complement of linking's connected_components: cycles in derived KG
    edges (sameAs loops, circular provenance) are exactly the non-
    singleton SCCs.

    Distributed path, per phase (the classic trim + forward-backward
    decomposition):
      1. TRIM — vertices missing either an in-edge or an out-edge in
         the remaining graph cannot sit on a cycle: settle them as
         singleton SCCs and drop their edges. Repeats via the phase
         loop until a trim settles nothing (a DAG trims away entirely,
         which is why trimming comes first: pure FW-BW would peel one
         root per phase there).
      2. FORWARD min-label to convergence: color(v) = min id over
         vertices that reach v (rounds ∝ diameter, one int64 equi-join
         + min agg + pointer-doubling self-join per round; this round
         keeps its own barrier, see `_min_label_doubling`).
      3. BACKWARD sweep from each color ROOT (color(r) = r) along
         REVERSED edges restricted to the root's color class: the
         reached set of r is exactly r's SCC (everything in it reaches
         r forward — color r — and is reached by r backward). Settle
         those with component = min member id, drop their edges, next
         phase.
    Every phase materializes and sizes its frames with `iterate.sized`
    / `iterate.barrier`. Once the remaining edges fit one task
    (`iterate.fits_one_task`, checked before every phase) a non-empty
    residue is solved by one
    iterative Tarjan pass in a single task (both sides pinned against a
    closure oracle in test_scc.py). All joins are int64 equi-joins;
    per-phase work is proportional to the REMAINING graph, which
    shrinks by every settled SCC — at 100 TB the remaining-edge table
    is bucketed on src so the propagation probes join Exchange-free.
    """
    remaining, n_edges = iterate.sized(
        _directed_edges(edges, src_col, dst_col, cast=False)
    )
    as_settled = {"src": "id", "dst": "component"}
    schema = remaining.withColumnsRenamed(as_settled).schema

    def solve(t):
        comp = _local_scc(zip(*t.to_pydict().values()))
        return {"id": list(comp), "component": list(comp.values())}

    settled_parts: list[DataFrame] = []

    def settle_vanished(kept: DataFrame, still: DataFrame) -> None:
        # a kept vertex can lose ALL its edges (every edge touched a
        # settled vertex) and vanish from the remaining graph — it has
        # no edge to any unsettled vertex, so no cycle: settle it as a
        # singleton or it is never emitted
        vanished, n = iterate.sized(
            kept.join(still, "id", "left_anti").select(
                "id", F.col("id").alias("component")
            )
        )
        if n:
            settled_parts.append(vanished)

    for _ in range(max_phases):
        if iterate.fits_one_task(n_edges) and (n_edges or not settled_parts):
            settled_parts.append(iterate.one_task(remaining, solve, schema))
            break
        if n_edges == 0:
            break
        verts = _vertex_ids(remaining)
        has_out = remaining.select(F.col("src").alias("id")).distinct()
        has_in = remaining.select(F.col("dst").alias("id")).distinct()
        core, _ = iterate.barrier(has_out.join(has_in, "id"))
        trimmed, n_trimmed = iterate.sized(
            verts.join(core, "id", "left_anti").select(
                "id", F.col("id").alias("component")
            )
        )
        if n_trimmed:
            settled_parts.append(trimmed)
            # re-trim only while it is still paying its way: the trim
            # convergence TAIL settled 915/100/15 edges for ~4 s a pass
            # at 2M edges (measured r5) — below 0.5% of the remaining
            # edge count, stop re-trimming and color; any vertex a
            # further trim would have settled just becomes a singleton
            # root in the coloring (trim is purely an optimization)
            retrim = n_trimmed * 200 >= n_edges
            remaining, n_edges = iterate.sized(
                remaining.join(
                    core.withColumnRenamed("id", "src"), "src", "left_semi"
                )
                .join(
                    core.withColumnRenamed("id", "dst"), "dst", "left_semi"
                )
                .select("src", "dst")
            )
            still, _ = iterate.barrier(_vertex_ids(remaining))
            settle_vanished(core, still)
            if retrim:
                continue
            core = still
        # forward min-label with POINTER DOUBLING: each round first
        # propagates colors one edge-hop (color(v) ← min inbound), then
        # shortcuts color(v) ← color(color(v)) — valid because color
        # witnesses reachability and reachability is transitive, so the
        # fixpoint (min id reaching v) is unchanged. The shortcut
        # compresses rounds when improved labels align with the
        # propagation direction (random-id graphs: 17 → 7 rounds at 2M
        # edges, measured r5); it is NOT a worst-case bound — a cycle
        # whose ids DESCEND along the edges still pays O(diameter)
        # rounds (the min walks one hop per round and no pointer ever
        # improves), exactly like the r4 one-hop code and like any
        # label-propagation scheme without hop sets. The pointer side
        # keeps only strictly-improving entries (color < id): a ROOT r
        # (color(r)=r) — the key every member of a converging class
        # carries — never has a pointer entry, so the hot key meets an
        # empty build side; and because the pointer side shrinks as
        # classes converge, AQE flips the doubling join to broadcast in
        # late rounds, which removes the probe-side shuffle (and with
        # it the one-reducer hot-key placement) exactly when the skew
        # would appear.
        def _min_label_doubling(prop_edges, init_verts):
            # The one driver loop that does not use iterate.barrier.
            # Round-barrier discipline (r5, measured on a 64-cycle):
            # the pointer step is a SELF-JOIN of `stepped` with its own
            # projection, and chaining localCheckpoint() through a
            # self-join doubles DRIVER cost per round (self-join
            # disambiguation over accumulated dataset lineage — rounds
            # 15+ went 1 s → 2 s → … → 95 s). Two changes keep rounds
            # FLAT: (a) `stepped` is eagerly checkpointed BEFORE the
            # self-join, so both join sides hang off one LogicalRDD;
            # (b) the round barrier on `cols` is persist()+count() with
            # an explicit unpersist of the previous round, not a second
            # localCheckpoint. 24 anti-aligned rounds measured flat at
            # ~0.45 s after the fix.
            cols = init_verts.select("id", F.col("id").alias("color"))
            prev_cache = None
            while True:
                inbound = (
                    prop_edges.join(
                        cols.select(
                            F.col("id").alias("src"),
                            F.col("color").alias("c_src"),
                        ),
                        "src",
                    )
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("c_src").alias("c_in"))
                )
                stepped = (
                    cols.join(inbound, "id", "left")
                    .select(
                        "id",
                        F.least(
                            "color", F.coalesce("c_in", F.col("color"))
                        ).alias("color"),
                        F.col("color").alias("old"),
                    )
                    .localCheckpoint()
                )
                ptr = stepped.where(F.col("color") < F.col("id")).select(
                    F.col("id").alias("_pid"),
                    F.col("color").alias("_pc"),
                )
                doubled = (
                    stepped.join(
                        ptr, F.col("color") == F.col("_pid"), "left"
                    )
                    .select(
                        "id",
                        F.least(
                            F.col("color"),
                            F.coalesce("_pc", F.col("color")),
                        ).alias("color"),
                        "old",
                    )
                    .persist()
                )
                # ONE action materializes the cache AND yields the
                # convergence scalar (fold-the-scalar rule)
                changed = doubled.where(
                    F.col("color") != F.col("old")
                ).count()
                if prev_cache is not None:
                    prev_cache.unpersist()
                prev_cache = doubled
                cols = doubled.select("id", "color")
                if changed == 0:
                    break
            # the final round's cache backs the returned frame until the
            # phase materializes its consumers; the phase unpersists it
            # after the scc extraction is checkpointed
            _phase_caches.append(prev_cache)
            return cols

        _phase_caches: list = []
        colors = _min_label_doubling(remaining, core)
        # backward pass: the SAME doubled min-label on the REVERSED
        # class-restricted subgraph. Within class(r) every v→…→r path
        # stays in the class (proof in test_scc docstring), so
        # bcolor(v) = min{u ∈ class(v): v →* u} equals the class root r
        # exactly when v reaches r — i.e. exactly for SCC members.
        # Replaces the frontier BFS (O(SCC diameter) rounds, growing
        # union + isEmpty job per round: 14 rounds / 19 s at 2M edges,
        # measured r5); same worst-case round count, fewer rounds in
        # practice (14 → 7 measured) and a flat per-round cost.
        ce, _ = iterate.barrier(
            remaining.join(
                colors.select(
                    F.col("id").alias("src"), F.col("color").alias("_cs")
                ),
                "src",
            )
            .join(
                colors.select(
                    F.col("id").alias("dst"), F.col("color").alias("_cd")
                ),
                "dst",
            )
            .where(F.col("_cs") == F.col("_cd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        bcolors = _min_label_doubling(ce, core)
        # eager: the phase's doubling caches are released right after
        scc, _ = iterate.barrier(
            colors.join(
                bcolors.select(
                    F.col("id").alias("_bid"), F.col("color").alias("_bc")
                ),
                F.col("id") == F.col("_bid"),
            )
            .where(F.col("color") == F.col("_bc"))
            .select("id", F.col("color").alias("component"))
        )
        settled_parts.append(scc)
        for _c in _phase_caches:
            if _c is not None:
                _c.unpersist()
        done = scc.select("id")
        remaining, n_edges = iterate.sized(
            remaining.join(
                done.withColumnRenamed("id", "src"), "src", "left_anti"
            )
            .join(done.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select("src", "dst")
        )
        settle_vanished(
            core.join(done, "id", "left_anti"), _vertex_ids(remaining)
        )
    else:
        raise RuntimeError(
            f"scc did not settle within {max_phases} phases"
        )
    # no part only when the distributed side got an empty edge set
    empty = remaining.withColumnsRenamed(as_settled)
    return reduce(DataFrame.unionByName, settled_parts or [empty])


def label_propagation(
    edges: DataFrame,
    max_iter: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation communities → (id, label).

    GraphFrames `labelPropagation` semantics made DETERMINISTIC: labels
    start as vertex ids; every round each vertex adopts the most
    frequent label among its undirected neighbors, ties broken by the
    SMALLEST label. Exactly `max_iter` synchronous rounds — LPA has no
    convergence guarantee (bipartite structures oscillate), so a pinned
    round count is the reproducible contract, and it makes the run
    COLLECT-FREE: zero driver jobs until the caller acts on the result
    (unlike pagerank/CC there is no convergence scalar to fetch).

    Each round is one int64 equi-join (undirected adjacency × labels) +
    one (id, label) count agg + one per-id min(struct(-count, label))
    fold — the argmax-with-min-tie pick as a pure aggregate, no window
    sort. Per-round shuffles key on (id, label) then (id); at 100 TB
    the adjacency is bucketed on src so the propagation join is
    Exchange-free on the big side, the same shape as bfs_distances /
    pagerank. Each round ends in an eager `iterate.barrier` (no scalar
    to fetch).

    GLiNER has no graph analytics; this serves "cluster canonical
    entities into densely co-mentioned communities" over the
    materialized edge table (SURVEY §2.8 extension surface, same
    rationale as pagerank/k-core). Parity: python replay in
    test_graph_communities.py; DuckDB unrolled-round oracle under the
    driver gate (`edge_agg` leg='lpa').
    """
    ud = _directed_edges(
        edges, src_col, dst_col, symmetric=True
    ).localCheckpoint()
    # both directions are present, so every vertex appears as src and
    # receives one message per neighbor each round
    labels = (
        ud.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        msgs = ud.join(
            labels.select(F.col("id").alias("src"), "label"), "src"
        ).select(F.col("dst").alias("id"), "label")
        counts = msgs.groupBy("id", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels, _ = iterate.barrier(
            counts.groupBy("id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label")
                    )
                ).alias("s")
            )
            .select("id", F.col("s.label").alias("label"))
        )
    return labels


def hits(
    edges: DataFrame,
    max_iter: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Kleinberg HITS hubs & authorities → (entity_id, hub, auth).

    Power iteration with L1 normalization each round: auth' ∝ Σ hub
    over in-edges, hub' ∝ Σ auth' over out-edges. The two normalizations
    are deferred to ONE fused job per round — hub_raw is computed from
    the UNnormalized auth_raw (normalization is a scalar multiple, so
    hub_raw/Σhub_raw is identical to normalizing mid-round), then a
    single aggregate over the joined frame collects both sums. So each
    round is two int64 equi-join+agg shuffles and exactly one driver
    job, the same budget as pagerank's fused delta/dangling collect.

    On the KG's bipartite slices (users → objects) hubs land on the
    source side and authorities on the target side; vertices with no
    in-(out-)edges get exact 0 auth (hub), exercising the coalesce
    paths. Round count pinned by the caller for oracle replay (DuckDB
    unrolls the same arithmetic per round — `pagerank_events`
    legs 'hub'/'auth'); numpy parity in test_graph_communities.py.
    """
    if max_iter < 1:
        raise ValueError("hits needs max_iter >= 1")
    e = _directed_edges(edges, src_col, dst_col).localCheckpoint()
    verts, n = iterate.sized(_vertex_ids(e))
    if n == 0:
        return edges.sparkSession.createDataFrame(
            [], "entity_id long, hub double, auth double"
        )
    ranks = verts.select("id", F.lit(1.0).alias("hub"))
    for _ in range(max_iter):
        araw = (
            e.join(ranks.select(F.col("id").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("araw"))
        )
        hraw = (
            e.join(araw.select(F.col("id").alias("dst"), "araw"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("araw").alias("hraw"))
        )
        joined, sums = iterate.barrier(
            verts.join(araw, "id", "left")
            .join(hraw, "id", "left")
            .select(
                "id",
                F.coalesce("araw", F.lit(0.0)).alias("araw"),
                F.coalesce("hraw", F.lit(0.0)).alias("hraw"),
            ),
            F.sum("araw").alias("sa"),
            F.sum("hraw").alias("sh"),
        )
        sa = sums["sa"] or 1.0
        sh = sums["sh"] or 1.0
        ranks = joined.select(
            "id", (F.col("hraw") / F.lit(sh)).alias("hub")
        )
    return joined.select(
        F.col("id").alias("entity_id"),
        (F.col("hraw") / F.lit(sh)).alias("hub"),
        (F.col("araw") / F.lit(sa)).alias("auth"),
    )


_FM_PHI = 0.77351  # Flajolet–Martin bias correction constant


def _ball_rounds(
    edges: DataFrame,
    max_t: int,
    method: str,
    n_sketches: int,
    seed: int,
    src_col: str,
    dst_col: str,
    directed: bool,
    totals: bool = False,
):
    """Ball-growth rounds behind `neighborhood_function` and
    `distance_profile` → yields (t, state, ball, chk, sums) for
    t = 0..max_t.

    `state` is round t's checkpointed per-vertex frame (id + reach set
    `rs`, or id + sketch masks s0..s{K-1}); `ball` is the Column of
    |B(v, t)| over it (exact size, or the FM estimate) and `chk` an
    exact integer Column whose sum only grows until the fixpoint
    (reach-set size; the popcount of the masks, which gain bits under
    `bit_or`). With `totals`, `sums` is the Row (nf = Σ ball, chk =
    Σ chk) the round's `iterate.barrier` measures in the job that
    materializes it; without, it is None. Round t ≥ 1 is ONE int64
    equi-join + one mergeable hash agg + the barrier; rounds run only
    as the consumer asks for them, so a consumer that stops early
    computes no more.
    """
    if method not in ("sketch", "exact"):
        raise ValueError(f"unknown method {method!r}")
    e = _directed_edges(
        edges, src_col, dst_col, symmetric=not directed
    ).localCheckpoint()
    verts = _vertex_ids(e)
    if method == "exact":
        cols = ["rs"]
        state = verts.select("id", F.array(F.col("id")).alias("rs"))
        merge = [F.array_distinct(F.flatten(F.collect_list("rs"))).alias("rs")]
        ball = F.size("rs").cast("double")
        chk = F.size("rs")
    else:
        cols = [f"s{k}" for k in range(n_sketches)]
        init = []
        for k in range(n_sketches):
            h = (
                F.pmod(
                    F.xxhash64(F.col("id"), F.lit(seed * 1009 + k)),
                    F.lit(1 << 32),
                )
                + 1
            )  # in [1, 2^32]: never zero, so h & -h is a clean power of two
            init.append(h.bitwiseAND(-h).alias(f"s{k}"))
        state = verts.select("id", *init)
        merge = [F.bit_or(c).alias(c) for c in cols]

        # lowest ZERO bit index of m == bit_count((~m & (m+1)) - 1):
        # pure integer, no float log rounding hazards
        def _b(c: str):
            m = F.col(c)
            return F.bit_count(F.bitwise_not(m).bitwiseAND(m + 1) - 1)

        mean_b = sum((_b(c) for c in cols), F.lit(0)) / float(n_sketches)
        fm = F.pow(F.lit(2.0), mean_b) / _FM_PHI
        # Small-range correction (the HLL linear-counting idea, applied
        # to FM bit-0 occupancy): P(bit0 set) = 1 - 2^-n, so while ANY
        # sketch still has bit 0 unset, n̂ = log(1 - c0/K) / log(1/2) is
        # nearly unbiased — raw FM reads tiny balls up to ~1.8× high.
        # Once all K bit-0s are set (n ≳ log2 K + a few), fall back to FM.
        c0 = sum(
            (F.col(c).bitwiseAND(F.lit(1)) for c in cols), F.lit(0)
        ).cast("double")
        ball = F.when(
            c0 < float(n_sketches),
            F.log(1.0 - c0 / float(n_sketches)) / F.log(F.lit(0.5)),
        ).otherwise(fm)
        # popcount as an exact long: Σ masks as double would round a
        # newly gained low bit away once the sum passes 2^53
        chk = sum((F.bit_count(F.col(c)) for c in cols), F.lit(0))
    scalars = (
        (F.sum(ball).alias("nf"), F.sum(chk).alias("chk")) if totals else ()
    )
    for t in range(max_t + 1):
        if t:
            contrib = e.join(state, e.dst == state.id).select(
                F.col("src").alias("id"), *cols
            )
            state = state.unionByName(contrib).groupBy("id").agg(*merge)
        state, sums = iterate.barrier(state, *scalars)
        yield t, state, ball, chk, sums


def neighborhood_function(
    edges: DataFrame,
    max_t: int = 8,
    method: str = "sketch",
    n_sketches: int = 32,
    seed: int = 17,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """ANF / HyperBall neighborhood function → (t, n_pairs) for
    t = 0..max_t: how many (v, u) pairs lie within distance t
    (self-pairs included, so NF(0) = |V|).

    The web-scale distance profile (Palmer et al., ANF, KDD 2002;
    Boldi et al., HyperBall): feed `effective_diameter` below, spot
    disconnected KGs (NF plateaus below |V|^2), and compare graph
    versions without any all-pairs work.

    method="sketch" (the 100 TB path): every vertex carries
    `n_sketches` Flajolet–Martin bitmask sketches of its distance-t
    ball, ONE int64 each — per round the sketch of v becomes
    OR(sketch(v), sketch(u) for v→u), which is a `bit_or` hash
    aggregate after a single int64 equi-join per round (the sketches
    are mergeable, so map-side combine applies; total state is
    O(V · n_sketches · 8 bytes) regardless of ball sizes — the whole
    point vs exact reach sets). The FM estimate per vertex is
    2^mean_k(lowest-zero-bit(m_k)) / 0.77351, computed with integer
    bit tricks (`bit_count((~m & (m+1)) − 1)`) — no float log in the
    hot path — with an HLL-style linear-counting correction from
    bit-0 occupancy for small balls (raw FM reads a 1-element ball
    ~1.8× high). Measured ≤7% error at 64 sketches on both a
    degree-1 chain graph and an expander (test_anf.py).

    method="exact" (the small-scale oracle twin): reach sets as
    distinct-id arrays merged by flatten+array_distinct — memory is
    O(ball size) per vertex, so this is for tests/oracles only; the
    integer outputs are engine-reproducible (DuckDB replays them with
    a recursive-CTE min-hop closure).

    Both emit exactly max_t+1 rows — after the fixpoint the value
    repeats (the loop stops computing; flat rows are filled in), so
    row count never depends on convergence round. Monotone
    convergence is detected on the exact popcount/size checksum, not
    the estimate. NF(t) is `distance_profile` summed over id: both
    consume the same rounds, this one with one scalar collect per
    round.
    """
    rows: list[tuple[int, float]] = []
    prev_chk = -1
    for t, _, _, _, a in _ball_rounds(
        edges, max_t, method, n_sketches, seed, src_col, dst_col, directed,
        totals=True,
    ):
        n_pairs = float(a["nf"] or 0.0)
        rows.append((t, n_pairs))
        if a["chk"] == prev_chk:  # fixpoint: fill the grid, no compute
            rows.extend((tt, n_pairs) for tt in range(t + 1, max_t + 1))
            break
        prev_chk = a["chk"]
    nf = pd.DataFrame(rows, columns=["t", "n_pairs"])
    nf = nf.astype({"t": "int32", "n_pairs": "float64"})
    return edges.sparkSession.createDataFrame(nf, "t int, n_pairs double")


def effective_diameter(nf: DataFrame, q: float = 0.9) -> float:
    """Effective diameter from a neighborhood function: the
    (interpolated) smallest t where NF(t) ≥ q·NF(max_t) — the
    HyperANF convention. Driver-side over the max_t+1 collected rows.
    """
    pts = sorted((r["t"], r["n_pairs"]) for r in nf.collect())
    if not pts:
        return 0.0
    target = q * pts[-1][1]
    prev_t, prev_v = pts[0]
    if prev_v >= target:
        return float(prev_t)
    for t, v in pts[1:]:
        if v >= target:
            if v == prev_v:
                return float(t)
            return prev_t + (target - prev_v) / (v - prev_v)
        prev_t, prev_v = t, v
    return float(pts[-1][0])


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity per community → (label, n_vertices,
    internal_edges, degree_sum, contribution); total Q = sum of
    `contribution`.

    Q = Σ_c [ e_c/m − (d_c/(2m))² ] over the undirected simple view
    (a<b canonicalization) — THE standard quality score for a
    community assignment (e.g. `label_propagation` output): positive
    contributions mean denser-than-chance communities; Q near 0 says
    the partition is no better than random, the signal a KG pipeline
    uses to reject a bad canonicalization round.

    Shape: two vertex-key equi-joins to label the edge endpoints, two
    hash aggregations (per-community edge and degree sums), and the
    global m/degree totals ride back as a ONE-ROW crossJoin (scalar
    combine, the repo's established pattern). Arithmetic is exact
    integer counts divided in binary64 with a pinned operation order
    (e/m − d·d/(4·m·m), rounded 6dp) so the value is reproducible
    cross-engine. Vertices missing from `communities` form singleton
    communities of their own label = -1 − not silently dropped.
    """
    und = _undirected_edges(edges, src_col, dst_col)
    lab = communities.select(
        F.col(id_col).alias("v"), F.col(label_col).alias("lab")
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    vl = deg.join(lab, "v", "left").select(
        "v", "deg", F.coalesce("lab", F.lit(-1)).alias("lab")
    )
    la = vl.select(F.col("v").alias("a"), F.col("lab").alias("la"))
    lb = vl.select(F.col("v").alias("b"), F.col("lab").alias("lb"))
    e_c = (
        und.join(la, "a")
        .join(lb, "b")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lab"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    d_c = vl.groupBy("lab").agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum("deg").alias("degree_sum"),
    )
    tot = und.agg(F.count(F.lit(1)).alias("m_edges"))
    m = F.col("m_edges").cast("double")
    e = F.coalesce("internal_edges", F.lit(0)).cast("double")
    d = F.col("degree_sum").cast("double")
    return (
        d_c.join(e_c, "lab", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("lab").alias("label"),
            "n_vertices",
            F.coalesce("internal_edges", F.lit(0)).alias(
                "internal_edges"
            ),
            "degree_sum",
            F.when(
                F.col("m_edges") > 0,
                F.round(e / m - (d * d) / (4.0 * m * m), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("contribution"),
        )
    )


def distance_profile(
    edges: DataFrame,
    max_t: int = 4,
    method: str = "sketch",
    n_sketches: int = 32,
    seed: int = 17,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """Per-vertex ball sizes → (id, t, ball) for t = 0..max_t:
    |{u : d(v, u) ≤ t}| including v itself — the per-vertex form of
    `neighborhood_function` (which is this summed over id), and the
    input `harmonic_centrality` folds.

    The per-round snapshots are unioned lazily over the
    already-checkpointed round states, so materializing the profile
    adds no extra jobs. method="exact" emits exact integer
    counts (the oracle twin); method="sketch" emits FM estimates with
    the linear-counting small-range correction (monotone in t within
    each estimator branch; the branch switchover is clamped by
    consumers, see harmonic_centrality).
    """
    snaps = [
        state.select("id", F.lit(t).alias("t"), ball.alias("ball"))
        for t, state, ball, _, _ in _ball_rounds(
            edges, max_t, method, n_sketches, seed, src_col, dst_col,
            directed,
        )
    ]
    return reduce(DataFrame.unionByName, snaps)


def harmonic_centrality(
    edges: DataFrame,
    max_t: int = 8,
    method: str = "sketch",
    n_sketches: int = 32,
    seed: int = 17,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """HyperBall harmonic centrality → (id, centrality):
    h(v) = Σ_{u≠v, d(v,u)≤max_t} 1 / d(v, u), estimated from ball
    growth: Σ_t (|B(v,t)| − |B(v,t−1)|) / t (Boldi & Vigna,
    "In-Core Computation of Geometric Centralities with HyperBall").
    The centrality that, unlike closeness, handles disconnected
    graphs gracefully — unreached vertices simply contribute 0.

    Distances run FROM v along edge direction; pass reversed edges
    for the "how centrally reachable is v" variant (the paper's
    convention). Ball deltas are clamped at 0 so the FM→linear-count
    estimator switchover can never subtract mass. Plan: the
    distance_profile loop + one (id) hash agg over max_t+1 snapshot
    rows per vertex.
    """
    prof = distance_profile(
        edges,
        max_t=max_t,
        method=method,
        n_sketches=n_sketches,
        seed=seed,
        src_col=src_col,
        dst_col=dst_col,
        directed=directed,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("t")
    delta = F.greatest(
        F.col("ball") - F.lag("ball", 1).over(w), F.lit(0.0)
    )
    return (
        prof.select(
            "id",
            "t",
            F.when(F.col("t") > 0, delta / F.col("t"))
            .otherwise(F.lit(0.0))
            .alias("contrib"),
        )
        .groupBy("id")
        .agg(F.sum("contrib").alias("centrality"))
    )


def shortest_path_counts(
    edges: DataFrame,
    sources: DataFrame | list[int],
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Number of shortest paths from each source → (source, id, hop,
    sigma): hop = d(source, id), sigma = σ_s(v) = how many distinct
    shortest paths realize it. The forward half of Brandes'
    betweenness algorithm, exposed as its own operator (σ is also the
    "path diversity" feature KG curation uses — σ=1 means a single
    fragile evidence chain).

    Level-synchronous frontier expansion (`iterate.frontier_loop`)
    like `bfs_distances`, with
    one extra map-side-combining SUM: σ(v, d) = Σ σ(u, d−1) over
    predecessors u — the anti-join against settled vertices makes
    "first reach = shortest" hold, so the per-level aggregate is all
    the bookkeeping σ needs. Exact integer counts (cross-engine
    oracle-able); σ can grow exponentially with depth, which is one
    more reason `max_hops` is part of the contract.
    """
    e = _directed_edges(edges, src_col, dst_col).localCheckpoint()
    if isinstance(sources, DataFrame):
        lm = sources.select(
            F.col(sources.columns[0]).cast("long").alias("source")
        ).distinct()
    else:
        lm = edges.sparkSession.createDataFrame(
            pd.DataFrame({"source": sources}, dtype="int64"), "source long"
        )
    seed = lm.select(
        "source",
        F.col("source").alias("id"),
        F.lit(0).cast("int").alias("hop"),
        F.lit(1).cast("long").alias("sigma"),
    )

    def step(d, frontier, done):
        return (
            frontier.join(e, frontier.id == e.src)
            .select("source", F.col("dst").alias("id"), "sigma")
            .join(
                done.select("source", "id"), ["source", "id"], "left_anti"
            )
            .groupBy("source", "id")
            .agg(F.sum("sigma").alias("sigma"))
            .select(
                "source",
                "id",
                F.lit(d).cast("int").alias("hop"),
                "sigma",
            )
        )

    return iterate.frontier_loop(seed, step, max_hops)


def betweenness_centrality(
    edges: DataFrame,
    sources: DataFrame | list[int],
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Brandes betweenness from sampled sources → (id, betweenness):
    C_B(v) = Σ_s δ_s(v) where δ_s(v) = Σ_{w: v→w on a shortest path}
    (σ(v)/σ(w)) · (1 + δ_s(w)) — the bridge-entity detector (an
    over-merged canonical entity shows up as an absurdly-between
    vertex joining unrelated regions). Sampling sources is THE
    standard scale move (Brandes-Pich): exact betweenness is
    all-pairs; k sampled sources cost k bounded-BFS forward passes +
    k backward sweeps and estimate the same ranking — multiply by
    n/k for an unbiased magnitude estimate. Shortest paths longer
    than `max_hops` are ignored (hop-bounded betweenness; bound it
    or pay diameter rounds).

    Backward phase: per level one 3-way equi-join (level-d vertices →
    SP-DAG edges → level-d+1 deltas) + one (source, id) hash agg + an
    eager `iterate.barrier`; per-round work ∝ the DAG slice; endpoints
    excluded per the standard definition.
    """
    spc, top = iterate.barrier(
        shortest_path_counts(
            edges, sources, max_hops=max_hops, src_col=src_col,
            dst_col=dst_col,
        ),
        F.max("hop"),
    )
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("esrc"),
            F.col(dst_col).cast("long").alias("edst"),
        )
        .where(F.col("esrc") != F.col("edst"))
        .distinct()
        .localCheckpoint()
    )
    max_l = top[0]
    if max_l is None or max_l == 0:
        return spc.select("id").distinct().select(
            "id", F.lit(0.0).alias("betweenness")
        )
    delta = spc.where(F.col("hop") == max_l).select(
        "source", "id", F.lit(0.0).alias("delta")
    ).localCheckpoint()
    # deepest-level vertices never gain dependency but ARE part of the
    # result (betweenness 0) — unless they sit at hop 0 (max_l == 0
    # returns above)
    levels = [delta]
    # stop at level 1: sources (hop 0) are endpoints, never scored.
    # spc self-joins below get EXPLICIT renames — attribute refs from
    # a shared lineage resolve trivially-true on the join key
    for d in range(max_l - 1, 0, -1):
        cur = spc.where(F.col("hop") == d).select(
            F.col("source").alias("csource"),
            F.col("id").alias("cid"),
            "sigma",
        )
        nxt = (
            spc.where(F.col("hop") == d + 1)
            .select(
                F.col("source").alias("wsource"),
                F.col("id").alias("wid"),
                F.col("sigma").alias("wsigma"),
            )
            .join(
                delta.select(
                    F.col("source").alias("wsource"),
                    F.col("id").alias("wid"),
                    "delta",
                ),
                ["wsource", "wid"],
            )
        )
        contrib = (
            cur.join(e, F.col("cid") == F.col("esrc"))
            .join(
                nxt,
                (F.col("edst") == F.col("wid"))
                & (F.col("csource") == F.col("wsource")),
            )
            .select(
                F.col("csource").alias("source"),
                F.col("cid").alias("id"),
                (
                    F.col("sigma").cast("double")
                    / F.col("wsigma").cast("double")
                    * (1.0 + F.col("delta"))
                ).alias("c"),
            )
            .groupBy("source", "id")
            .agg(F.sum("c").alias("delta"))
        )
        delta, _ = iterate.barrier(
            cur.select(
                F.col("csource").alias("source"),
                F.col("cid").alias("id"),
            )
            .join(contrib, ["source", "id"], "left")
            .select(
                "source", "id", F.coalesce("delta", F.lit(0.0)).alias("delta")
            )
        )
        levels.append(delta)
    # sources (hop 0) are endpoints of their own paths — excluded
    out = None
    for lv in levels:
        out = lv if out is None else out.unionByName(lv)
    if out is None:
        return spc.select("id").distinct().select(
            "id", F.lit(0.0).alias("betweenness")
        )
    return out.groupBy("id").agg(F.sum("delta").alias("betweenness"))


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.0625,
    beta: float = 1.0,
    max_iter: int = 10,
    tol: float = 0.0,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Katz centrality → (id, katz): x = Σ_j α^j (Aᵀ)^j β·1 — every
    inbound walk contributes, damped α per hop. The centrality that
    (unlike PageRank) does not dilute a supporter's vote by its
    out-degree: an entity referenced by busy hubs still accumulates —
    the right notion for KG evidence where one source asserting many
    facts is not weaker evidence per fact.

    Power iteration x ← α·Aᵀx + β: per round one int64 equi-join +
    one map-side-combining sum + a left join back onto the vertex set
    (katz of in-degree-0 vertices is exactly β), then one
    `iterate.barrier`. tol=0 (default) runs exactly `max_iter`
    collect-FREE rounds — deterministic and oracle-able by unrolled
    SQL; tol>0 folds the L1 delta into the barrier's one scalar
    collect per round (the pagerank discipline). Convergence
    requires α < 1/λ_max; the default 1/16 is an exact binary64
    dyadic, so pinned-round values over integer β are EXACT on every
    engine — no summation-order ulps at all.
    """
    e = _directed_edges(edges, src_col, dst_col).localCheckpoint()
    x = _vertex_ids(e).localCheckpoint().select(
        "id", F.lit(float(beta)).alias("katz")
    )
    delta = F.sum(F.abs(F.col("katz") - F.col("old")))
    for _ in range(max_iter):
        contrib = (
            e.join(x.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("katz").alias("s"))
        )
        # x covers every vertex, so it is the vertex set to join onto
        nxt, row = iterate.barrier(
            x.join(contrib, "id", "left").select(
                "id",
                (
                    float(beta)
                    + float(alpha) * F.coalesce("s", F.lit(0.0))
                ).alias("katz"),
                F.col("katz").alias("old"),
            ),
            *([delta] if tol > 0.0 else []),
        )
        x = nxt.select("id", "katz")
        if row is not None and row[0] is not None and row[0] <= tol:
            break
    return x


def assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity (Newman, "Assortative mixing in networks",
    PRL 2002) over the undirected simple view of `edges` → ONE row
    (m_edges, s_jk, s_j, s_jj, r).

    r is the Pearson correlation of endpoint degrees across edges:
    positive = hubs link to hubs (social-graph shape), negative = hubs
    link to leaves (star/hub shape — what an over-merged canonical
    entity looks like in a KG). Alongside `modularity` and
    `clustering_coefficient` it is the third one-number partition/
    topology gate for canonicalization output.

    Shape: dedupe to canonical (least, greatest) pairs, one degree
    hash agg, two int64 equi-joins to carry endpoint degrees, ONE
    final aggregate of pure-integer sums (Σjk, Σ(j+k), Σ(j²+k²)) —
    r is derived from those exact ints in a pinned expression order,
    so the binary64 result is bit-stable cross-engine. Degenerate
    variance (e.g. regular graphs) yields r = NULL, not a throw.
    """
    e = _undirected_edges(edges, src_col, dst_col)
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    joined = e.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("dj")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("dk")), "b")
    sums = joined.agg(
        F.count(F.lit(1)).alias("m_edges"),
        F.sum(F.col("dj") * F.col("dk")).alias("s_jk"),
        F.sum(F.col("dj") + F.col("dk")).alias("s_j"),
        F.sum(
            F.col("dj") * F.col("dj") + F.col("dk") * F.col("dk")
        ).alias("s_jj"),
    )
    # pinned order: mu = s_j/(2m); r = (s_jk/m - mu^2)/(s_jj/(2m) - mu^2)
    mu = F.col("s_j").cast("double") / (F.lit(2.0) * F.col("m_edges"))
    num = F.col("s_jk").cast("double") / F.col("m_edges") - mu * mu
    den = F.col("s_jj").cast("double") / (
        F.lit(2.0) * F.col("m_edges")
    ) - mu * mu
    return sums.select(
        "m_edges",
        "s_jk",
        "s_j",
        "s_jj",
        F.when(den != 0.0, num / den).alias("r"),
    )

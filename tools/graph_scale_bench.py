"""Graph analytics at scale: the KG graph operators on a synthetic
2M-edge / 500k-vertex directed graph with a planted hub set — the
sf0.1-derived driver-gate graphs (≤ 100k edges) are too small to show
per-op wall or the hub-cap's effect.

Graph (pure native expressions, no driver data): 2,000,000 edges,
src uniform over 500k vertices, dst 90% uniform / 10% into a 1,000-
vertex hub set (hubs reach in-degree ~200 — enough to matter for the
link-prediction cap, realistic for entity KGs where a few canonical
entities collect edges).

Measured, `local[32]`:
  * pagerank, 5 iterations (one fused collect per iteration);
  * personalized_pagerank, 5 iterations, 3 seeds;
  * bfs_distances from 3 landmarks, max_hops 3;
  * link_predict (Adamic-Adar), max_degree=64 (hubs excluded), and the
    hub-cap's work bound: wedge volume with vs without the cap;
  * random_walks, walk_len=5 (one walk per vertex = up to 3M rows);
  * core_numbers, distributed iterated-h-index path forced (the
    one-task bound `iterate.SMALL_SOLVE` set to 0 around the call);
  * triangle_counts over the undirected view;
  * label_propagation, 3 synchronous rounds (collect-free);
  * hits, 3 rounds (one fused sums-collect per round);
  * strongly_connected_components, distributed path forced the same
    way — trim + FW-BW phases on the 2M-edge graph;
  * k_truss k=3 (edge-support peel over live wedges; k=4 empties
    this random graph in one cascade — 368 triangles over 2M edges);
  * node2vec_walks, len 5, p=2 q=0.5 (second-order weighted picks);
  * warm-start vs cold PageRank refresh after a 0.5% edge append,
    both at tol=1e-5 with max_iter headroom (the incremental-
    maintenance payoff shows in the iteration count, so tol — not
    the cap — must terminate both runs);
  * neighborhood_function, sketch mode (ANF: 32 FM int64 masks per
    vertex, one bit_or agg per round), max_t=5 — plus the
    effective_diameter readout;
  * harmonic_centrality, sketch mode, max_t=5 (the same ball rounds
    + one window/agg);
  * clustering_coefficient (triangle_counts + degree agg + join);
  * modularity of the 3-round LPA partition above;
  * shortest_path_counts from 3 sources, max_hops=3 (Brandes forward
    σ pass), then full betweenness_centrality (backward sweeps);
  * katz_centrality, 3 collect-free rounds.

`GRAPH_E` / `GRAPH_V` override the edge and vertex counts.

Prints ONE JSON line. Writes under _out/ (gitignored).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gliner_spark.plans.session import build_session  # noqa: E402

N_EDGES = int(os.environ.get("GRAPH_E", 2_000_000))
N_VERTS = int(os.environ.get("GRAPH_V", 500_000))
N_HUBS = 1000
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "_out",
    "graph_scale",
)


@contextmanager
def distributed_only():
    """Force every size-gated solver onto its distributed side: the
    one-task bound `iterate.SMALL_SOLVE` is 0 inside the block."""
    from gliner_spark.plans import iterate

    bound, iterate.SMALL_SOLVE = iterate.SMALL_SOLVE, 0
    try:
        yield
    finally:
        iterate.SMALL_SOLVE = bound


def main():
    from gliner_spark.operators.graph import (
        betweenness_centrality,
        bfs_distances,
        core_numbers,
        effective_diameter,
        harmonic_centrality,
        hits,
        k_truss,
        katz_centrality,
        label_propagation,
        link_predict,
        modularity,
        neighborhood_function,
        node2vec_walks,
        pagerank,
        personalized_pagerank,
        random_walks,
        shortest_path_counts,
        strongly_connected_components,
    )
    from gliner_spark.operators.motif import (
        clustering_coefficient,
        triangle_counts,
    )

    spark = build_session(app_name="graph-scale", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(OUT, ignore_errors=True)
    path = os.path.join(OUT, "edges")

    t0 = time.time()
    spark.range(N_EDGES).select(
        F.pmod(F.xxhash64(F.lit("s"), "id"), F.lit(N_VERTS)).alias(
            "subj_id"
        ),
        F.when(
            F.pmod(F.xxhash64(F.lit("m"), "id"), F.lit(10)) == 0,
            F.pmod(F.xxhash64(F.lit("h"), "id"), F.lit(N_HUBS)),
        )
        .otherwise(
            F.pmod(F.xxhash64(F.lit("d"), "id"), F.lit(N_VERTS))
        )
        .alias("obj_id"),
    ).repartition(64).write.parquet(path)
    synth_s = time.time() - t0
    e = spark.read.parquet(path)

    t0 = time.time()
    pr = pagerank(e, max_iter=5, tol=0.0)
    pr_mass = pr.agg(F.sum("rank")).collect()[0][0]
    pagerank_s = time.time() - t0
    assert abs(pr_mass - 1.0) < 1e-6, pr_mass

    t0 = time.time()
    ppr = personalized_pagerank(e, [0, 1, 2], max_iter=5, tol=0.0)
    ppr_row = ppr.agg(
        F.sum("rank").alias("mass"),
        F.sum(F.when(F.col("rank") > 0, 1).otherwise(0)).alias("nz"),
    ).collect()[0]
    ppr_s = time.time() - t0
    assert abs(ppr_row["mass"] - 1.0) < 1e-6, ppr_row

    t0 = time.time()
    bfs = bfs_distances(
        e.selectExpr("subj_id as src", "obj_id as dst"),
        [0, 1, 2],
        max_hops=3,
    )
    n_reached = bfs.count()
    bfs_s = time.time() - t0

    # hub-cap work bound: wedge pairs the middle join emits, capped vs
    # not (counted via the degree table only — cheap either way)
    und = (
        e.select(
            F.least("subj_id", "obj_id").alias("a"),
            F.greatest("subj_id", "obj_id").alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    adj = und.selectExpr("a as v").unionAll(und.selectExpr("b as v"))
    degs = adj.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    wedges = degs.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).alias("all"),
        F.sum(
            F.when(
                F.col("deg") <= 64,
                F.col("deg") * (F.col("deg") - 1) / 2,
            ).otherwise(0)
        ).alias("capped"),
    ).collect()[0]

    t0 = time.time()
    lp = link_predict(
        e, max_degree=64, min_common=2,
        src_col="subj_id", dst_col="obj_id",
    )
    n_pred = lp.count()
    linkpred_s = time.time() - t0

    t0 = time.time()
    walks = random_walks(e, walk_len=5, seed=7)
    n_walk_rows = walks.count()
    walks_s = time.time() - t0

    # distributed path forced (the one-task bound set to 0): the 2M-edge
    # graph is the scale path the driver-gate graphs never reach
    t0 = time.time()
    with distributed_only():
        cores = core_numbers(e, src_col="subj_id", dst_col="obj_id")
        core_row = cores.agg(
            F.max("core").alias("k_max"), F.count(F.lit(1)).alias("nv")
        ).collect()[0]
    cores_s = time.time() - t0

    t0 = time.time()
    tri = triangle_counts(
        e, src_col="subj_id", dst_col="obj_id"
    )
    tri_total = tri.agg(F.sum("n_triangles")).collect()[0][0] or 0
    tri_s = time.time() - t0

    t0 = time.time()
    lpa = label_propagation(
        e, max_iter=3, src_col="subj_id", dst_col="obj_id"
    ).localCheckpoint()
    lpa_row = lpa.agg(
        F.countDistinct("label").alias("nc"),
        F.count(F.lit(1)).alias("nv"),
    ).collect()[0]
    lpa_s = time.time() - t0

    t0 = time.time()
    ha = hits(e, max_iter=3, src_col="subj_id", dst_col="obj_id")
    hits_row = ha.agg(
        F.sum("hub").alias("hm"), F.sum("auth").alias("am")
    ).collect()[0]
    hits_s = time.time() - t0
    assert abs(hits_row["hm"] - 1.0) < 1e-6, hits_row
    assert abs(hits_row["am"] - 1.0) < 1e-6, hits_row

    t0 = time.time()
    with distributed_only():
        scc = strongly_connected_components(
            e, src_col="subj_id", dst_col="obj_id"
        )
        scc_row = scc.agg(
            F.count(F.lit(1)).alias("nv"),
            F.countDistinct("component").alias("nc"),
        ).collect()[0]
    scc_s = time.time() - t0

    t0 = time.time()
    kt = k_truss(e, 3, src_col="subj_id", dst_col="obj_id")
    kt_edges = kt.count()
    ktruss_s = time.time() - t0

    t0 = time.time()
    n2v = node2vec_walks(e, walk_len=5, p=2.0, q=0.5, seed=7)
    n2v_rows = n2v.count()
    n2v_s = time.time() - t0

    # warm-start refresh: append 0.5% new edges, re-rank warm vs cold
    # at the SAME tol with enough max_iter headroom that convergence
    # (not the cap) ends both runs — a tol below what either reaches
    # within the cap makes the two walls trivially equal
    delta = spark.range(N_EDGES // 200).select(
        F.pmod(F.xxhash64(F.lit("s2"), "id"), F.lit(N_VERTS)).alias(
            "subj_id"
        ),
        F.pmod(F.xxhash64(F.lit("d2"), "id"), F.lit(N_VERTS)).alias(
            "obj_id"
        ),
    )
    grown = e.unionAll(delta)
    t0 = time.time()
    prev = pagerank(e, max_iter=100, tol=1e-5).localCheckpoint()
    base_s = time.time() - t0
    t0 = time.time()
    pagerank(grown, max_iter=100, tol=1e-5, init_ranks=prev).agg(
        F.sum("rank")
    ).collect()
    warm_s = time.time() - t0
    t0 = time.time()
    pagerank(grown, max_iter=100, tol=1e-5).agg(F.sum("rank")).collect()
    cold_s = time.time() - t0

    t0 = time.time()
    nf = neighborhood_function(
        e, max_t=5, method="sketch", n_sketches=32,
        src_col="subj_id", dst_col="obj_id",
    ).localCheckpoint()
    eff_d = effective_diameter(nf, q=0.9)
    nf_rows = {r["t"]: r["n_pairs"] for r in nf.collect()}
    anf_s = time.time() - t0

    t0 = time.time()
    hc = harmonic_centrality(
        e, max_t=5, method="sketch", n_sketches=32,
        src_col="subj_id", dst_col="obj_id",
    )
    hc_row = hc.agg(
        F.count(F.lit(1)).alias("nv"), F.max("centrality").alias("mx")
    ).collect()[0]
    harm_s = time.time() - t0

    t0 = time.time()
    cc = clustering_coefficient(
        e, src_col="subj_id", dst_col="obj_id"
    )
    cc_row = cc.agg(
        F.count(F.lit(1)).alias("nv"),
        F.round(F.avg("coefficient"), 6).alias("avg"),
    ).collect()[0]
    clust_s = time.time() - t0

    t0 = time.time()
    mq = modularity(e, lpa, src_col="subj_id", dst_col="obj_id")
    q_total = mq.agg(F.sum("contribution")).collect()[0][0]
    mod_s = time.time() - t0

    t0 = time.time()
    spc = shortest_path_counts(
        e, [0, 1, 2], max_hops=3, src_col="subj_id", dst_col="obj_id"
    )
    spc_rows = spc.count()
    sigma_s = time.time() - t0

    t0 = time.time()
    bc = betweenness_centrality(
        e, [0, 1, 2], max_hops=3, src_col="subj_id", dst_col="obj_id"
    )
    bc_row = bc.agg(
        F.count(F.lit(1)).alias("nv"),
        F.round(F.max("betweenness"), 2).alias("mx"),
    ).collect()[0]
    btw_s = time.time() - t0

    t0 = time.time()
    kz = katz_centrality(
        e, alpha=0.0625, max_iter=3, src_col="subj_id",
        dst_col="obj_id",
    )
    kz_row = kz.agg(
        F.count(F.lit(1)).alias("nv"),
        F.round(F.max("katz"), 4).alias("mx"),
    ).collect()[0]
    katz_s = time.time() - t0

    print(
        json.dumps(
            {
                "n_edges": N_EDGES,
                "n_verts": N_VERTS,
                "synth_s": round(synth_s, 1),
                "pagerank5_s": round(pagerank_s, 1),
                "ppr5_s": round(ppr_s, 1),
                "ppr_nonzero_verts": int(ppr_row["nz"]),
                "bfs3_s": round(bfs_s, 1),
                "bfs_reached_rows": int(n_reached),
                "linkpred_s": round(linkpred_s, 1),
                "linkpred_pairs": int(n_pred),
                "wedges_uncapped": int(wedges["all"]),
                "wedges_capped": int(wedges["capped"]),
                "walks_s": round(walks_s, 1),
                "walk_rows": int(n_walk_rows),
                "core_s": round(cores_s, 1),
                "core_k_max": int(core_row["k_max"]),
                "core_verts": int(core_row["nv"]),
                "triangles_s": round(tri_s, 1),
                "triangles_x3": int(tri_total),
                "lpa3_s": round(lpa_s, 1),
                "lpa_communities": int(lpa_row["nc"]),
                "lpa_verts": int(lpa_row["nv"]),
                "hits3_s": round(hits_s, 1),
                "scc_s": round(scc_s, 1),
                "scc_verts": int(scc_row["nv"]),
                "scc_components": int(scc_row["nc"]),
                "ktruss3_s": round(ktruss_s, 1),
                "ktruss3_edges": int(kt_edges),
                "node2vec5_s": round(n2v_s, 1),
                "node2vec_rows": int(n2v_rows),
                "pr_tol5_cold_base_s": round(base_s, 1),
                "pr_tol5_warm_after_append_s": round(warm_s, 1),
                "pr_tol5_cold_after_append_s": round(cold_s, 1),
                "anf5_sketch_s": round(anf_s, 1),
                "anf_nf": {str(t): round(v) for t, v in nf_rows.items()},
                "effective_diameter_q90": round(eff_d, 2),
                "harmonic5_sketch_s": round(harm_s, 1),
                "harmonic_verts": int(hc_row["nv"]),
                "harmonic_max": round(float(hc_row["mx"]), 1),
                "clustering_s": round(clust_s, 1),
                "clustering_verts": int(cc_row["nv"]),
                "clustering_avg": float(cc_row["avg"]),
                "modularity_s": round(mod_s, 1),
                "modularity_q": round(float(q_total), 6),
                "sigma3_s": round(sigma_s, 1),
                "sigma_rows": int(spc_rows),
                "betweenness3_s": round(btw_s, 1),
                "betweenness_verts": int(bc_row["nv"]),
                "betweenness_max": float(bc_row["mx"]),
                "katz3_s": round(katz_s, 1),
                "katz_verts": int(kz_row["nv"]),
                "katz_max": float(kz_row["mx"]),
            }
        )
    )


if __name__ == "__main__":
    main()

"""Spectral embeddings from co-occurrence counts: PPMI weighting +
distributed randomized truncated SVD.

Closes the graph → random walks → skip-gram pairs chain with actual
vectors, the closed-form counterpart of word2vec: SGNS implicitly
factorizes the shifted PPMI matrix (Levy & Goldberg, "Neural Word
Embedding as Implicit Matrix Factorization", NeurIPS 2014; NetMF,
Qiu et al. WSDM 2018 for the DeepWalk equivalence). This is
deterministic linear algebra — a data transform, not gradient training
(SURVEY §2.11's scope cut covers SGD loops, not factorization).

ppmi       (center, context, n) counts → sparse (i, j, w) with
           w = max(ln(n·N / (n_i·n_j)) − ln(shift), 0), zeros dropped.
           Two marginal hash aggs joined back onto the pairs — every
           join key is the pair table's own shuffle key; no collect.

svd_embed  sparse (i, j, w) → rank-k factors via randomized subspace
           iteration (Halko-Martinsson-Tropp 2011):
             Y = MΩ, then iterate Q=orth(Y); Z=MᵀQ; W=orth(Z); Y=MW.
           Every M·X product is ONE equi-join + ONE map-side-combining
           hash agg with k sum expressions (k ≤ ~64); every
           orthonormalization collects only the k×k Gram matrix and
           pushes R⁻¹ back as plan-time literals — the driver never
           holds a |V|-sized object, so the shape survives 10⁹-vertex
           matrices. Ω is a deterministic xxhash64 ±1 matrix, so the
           factorization is reproducible run-to-run.

Embedding convention (Levy-Goldberg): word = U·Σ^α, context = V·Σ^α
with α = 0.5, M ≈ word @ contextᵀ exactly when k ≥ rank(M).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ppmi(
    pairs: DataFrame,
    center_col: str = "center",
    context_col: str = "context",
    weight_col: str = "n",
    shift: float = 1.0,
) -> DataFrame:
    """Shifted positive PMI → (i, j, w), w > 0 rows only. `shift` is
    the SGNS negative-sample count (shift=1 → plain PPMI)."""
    import math

    if shift < 1.0:
        raise ValueError("shift >= 1 required")
    p = pairs.select(
        F.col(center_col).alias("i"),
        F.col(context_col).alias("j"),
        F.col(weight_col).cast("double").alias("n"),
    )
    # "tot_n", not "N": Spark's default case-insensitive resolution
    # would make an alias "N" ambiguous with the pair column "n"
    tot = p.agg(F.sum("n").alias("tot_n"))
    mi = p.groupBy("i").agg(F.sum("n").alias("n_i"))
    mj = p.groupBy("j").agg(F.sum("n").alias("n_j"))
    w = (
        F.log(F.col("n") * F.col("tot_n") / (F.col("n_i") * F.col("n_j")))
        - F.lit(math.log(shift))
    )
    return (
        p.join(mi, "i")
        .join(mj, "j")
        .crossJoin(F.broadcast(tot))
        .select("i", "j", w.alias("w"))
        .where(F.col("w") > 0)
    )


def _omega(mat: DataFrame, j_col: str, k: int, seed: int) -> DataFrame:
    """Deterministic ±1 start block over the column-id space."""
    ids = mat.select(F.col(j_col).alias("id")).distinct()
    signs = [
        F.when(
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed * 1000 + d)), F.lit(2))
            == 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
        for d in range(k)
    ]
    return ids.select("id", F.array(*signs).alias("x"))


def _matvec(
    mat: DataFrame, x: DataFrame, row_col: str, col_col: str, k: int
) -> DataFrame:
    """Y = M·X (or MᵀX with the roles swapped by the caller): one
    equi-join on the column id + one hash agg of k partial sums."""
    joined = mat.join(
        x.select(F.col("id").alias(col_col), "x"), col_col
    )
    sums = [
        F.sum(F.col("w") * F.col("x")[d]).alias(f"_y{d}") for d in range(k)
    ]
    agg = joined.groupBy(F.col(row_col).alias("id")).agg(*sums)
    return agg.select(
        "id", F.array(*[F.col(f"_y{d}") for d in range(k)]).alias("x")
    )


def _gram(x: DataFrame, k: int):
    import numpy as np

    exprs = [
        F.sum(F.col("x")[a] * F.col("x")[b]).alias(f"_g_{a}_{b}")
        for a in range(k)
        for b in range(a, k)
    ]
    row = x.agg(*exprs).first()
    g = np.zeros((k, k))
    for a in range(k):
        for b in range(a, k):
            v = row[f"_g_{a}_{b}"] or 0.0
            g[a, b] = v
            g[b, a] = v
    return g


def _apply_right(x: DataFrame, m, k: int) -> DataFrame:
    """Row map y = x·m for a small k×k driver matrix (plan-time
    literals — plain column arithmetic, never inside a HOF lambda)."""
    cols = [
        sum(
            (F.col("x")[e] * F.lit(float(m[e, d])) for e in range(1, k)),
            F.col("x")[0] * F.lit(float(m[0, d])),
        ).alias(f"_o{d}")
        for d in range(k)
    ]
    return x.select("id", *cols).select(
        "id", F.array(*[F.col(f"_o{d}") for d in range(k)]).alias("x")
    )


def _orth(x: DataFrame, k: int) -> DataFrame:
    """Q = X·R⁻¹ with RᵀR = XᵀX (Cholesky of the k×k Gram — the only
    collect), jittered for rank-deficient blocks."""
    import numpy as np

    g = _gram(x, k)
    jitter = 1e-12 * max(float(np.trace(g)), 1.0)
    r = np.linalg.cholesky(g + jitter * np.eye(k)).T
    rinv = np.linalg.inv(r)
    return _apply_right(x, rinv, k)


def svd_embed(
    mat: DataFrame,
    k: int = 16,
    iters: int = 4,
    seed: int = 7,
    alpha: float = 0.5,
    i_col: str = "i",
    j_col: str = "j",
    w_col: str = "w",
    init: DataFrame | None = None,
):
    """Rank-k factorization of the sparse matrix (i_col, j_col, w_col)
    → (word_df (id, vec), context_df (id, vec), sigma list), with
    word = U·Σ^α and context = V·Σ^(1−α) so M ≈ word @ contextᵀ.

    Per iteration: two matvec join+agg jobs and two k×k Gram collects;
    `localCheckpoint` cuts the lineage each round (driver-loop shape
    shared with pagerank/CC). Rows or columns with no surviving
    entries have zero vectors and are omitted from the output.

    `init` warm-starts the subspace from a previous run's CONTEXT
    factor (any (id, vec) frame with k-dim arrays spanning roughly the
    right column subspace — the first orthonormalization absorbs
    scaling, so the Σ^(1−α) weighting is harmless): after a small
    graph/corpus append the old subspace is nearly invariant and one
    or two iterations recover what a cold start needs several for —
    the embedding twin of `pagerank(init_ranks=…)`. Column ids absent
    from `init` (new vertices) fall back to the deterministic sign
    block; stale ids in `init` are ignored.
    """
    m = mat.select(
        F.col(i_col).alias("i"),
        F.col(j_col).alias("j"),
        F.col(w_col).cast("double").alias("w"),
    ).localCheckpoint()

    if init is None:
        x = _omega(m, "j", k, seed)
    else:
        fresh = _omega(m, "j", k, seed)
        # size guard: an init vector of the wrong dimension would NULL
        # out components silently (array index past the end) — treat
        # it like a missing id and fall back to the sign block
        xi = F.when(F.size("_xi") == k, F.col("_xi"))
        x = (
            fresh.join(
                init.select(F.col("id"), F.col("vec").alias("_xi")),
                "id",
                "left",
            )
            .select("id", F.coalesce(xi, F.col("x")).alias("x"))
        )
    # checkpoint the MATVEC outputs, not the orth outputs: each _orth
    # is a Gram collect + a lazy projection, so checkpointing after
    # _orth would re-run the expensive join+agg once per downstream
    # consumer (~2.5x redundant shuffle work per round, measured by
    # review); _orth over a checkpointed matvec only replays the cheap
    # k x k projection
    y = _matvec(m, x, "i", "j", k).localCheckpoint()
    q = _orth(y, k)
    # iters counts REFINEMENT rounds beyond the mandatory init pass:
    # iters=0 is a legitimate warm-start budget (project onto the init
    # subspace, factorize, stop) — clamping it to 1 silently doubled a
    # zero-refinement caller's matvec work (ADVICE r4)
    if int(iters) < 0:
        raise ValueError("iters >= 0 required")
    for _ in range(int(iters)):
        z = _matvec(m, q, "j", "i", k).localCheckpoint()  # Mᵀ·Q
        wblk = _orth(z, k)
        y = _matvec(m, wblk, "i", "j", k).localCheckpoint()
        q = _orth(y, k)

    import numpy as np

    t = _matvec(m, q, "j", "i", k).localCheckpoint()  # T = Mᵀ·Q
    g2 = _gram(t, k)  # TᵀT = B·Bᵀ for B = QᵀM
    lam, vecs = np.linalg.eigh(g2)
    order = np.argsort(lam)[::-1]
    lam = np.clip(lam[order], 0.0, None)
    ub = vecs[:, order]  # Ū: left singular vectors of B
    sigma = np.sqrt(lam)

    # U = Q·Ū ; V = T·Ū·Σ⁻¹ ; zero singular values → zero columns
    sig_a = np.array(
        [s**alpha if s > 0 else 0.0 for s in sigma]
    )
    sig_b = np.array(
        [s ** (1.0 - alpha) / s if s > 0 else 0.0 for s in sigma]
    )
    word = _apply_right(q, ub * sig_a[None, :], k).select(
        "id", F.col("x").alias("vec")
    )
    ctx = _apply_right(t, ub * sig_b[None, :], k).select(
        "id", F.col("x").alias("vec")
    )
    return word, ctx, [float(s) for s in sigma]


def link_auc(
    edges: DataFrame,
    vectors: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    neg_per_pos: int = 1,
    seed: int = 13,
) -> DataFrame:
    """Link-prediction AUC of an embedding table (id, vec): the
    probability that a true edge outscores a random non-edge under the
    dot product — the standard intrinsic quality number for
    DeepWalk/node2vec-style vectors (higher = the geometry reflects
    the graph). → ONE row (n_pos, n_neg, auc).

    Negatives are DETERMINISTIC: each positive edge is re-targeted at
    `neg_per_pos` md5-picked vertices (the random_walks pick pattern,
    so the eval set is reproducible across runs/engines), then known
    edges are removed with a left_anti join. Scoring is two equi-joins
    against the vector table; AUC is the exact Mann-Whitney rank-sum
    over one global sort of the P+N scores (ties get half credit) —
    an eval-sized sort, not a corpus one.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    from pyspark.sql import Window as _W

    n_verts = verts.count()
    iverts = verts.select(
        "id",
        (
            F.row_number().over(_W.orderBy("id")) - 1
        ).alias("idx"),
    )
    reps = e.select(
        "src",
        "dst",
        F.explode(
            F.array(*[F.lit(r) for r in range(int(neg_per_pos))])
        ).alias("rep"),
    )
    pick = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(int(seed)),
                        F.col("src"),
                        F.col("dst"),
                        F.col("rep"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(int(n_verts)),
    )
    cand = reps.select("src", pick.alias("idx")).join(iverts, "idx").select(
        "src", F.col("id").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    negs = cand.join(e, ["src", "dst"], "left_anti")

    v_s = vectors.select(F.col("id").alias("src"), F.col("vec").alias("_vs"))
    v_d = vectors.select(F.col("id").alias("dst"), F.col("vec").alias("_vd"))

    def score(df, label):
        return (
            df.join(v_s, "src")
            .join(v_d, "dst")
            .select(
                F.lit(label).alias("y"),
                F.zip_with(
                    "_vs", "_vd", lambda a, b: a * b
                ).alias("_p"),
            )
            .select(
                "y",
                F.aggregate(
                    "_p", F.lit(0.0), lambda acc, x: acc + x
                ).alias("s"),
            )
        )

    allx = score(e, 1).unionByName(score(negs, 0))
    # average rank handles ties with half credit (Mann-Whitney U)
    ranked = allx.withColumn(
        "r",
        F.avg(F.row_number().over(_W.orderBy("s", "y"))).over(
            _W.partitionBy("s")
        ),
    )
    agg = ranked.agg(
        F.sum("y").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).alias("n_neg"),
        F.sum(F.col("r") * F.col("y")).alias("rank_pos"),
    )
    # n_edges makes inner-join attrition VISIBLE: edges whose endpoint
    # has no vector are silently excluded from scoring (svd_embed omits
    # zero-row vertices), so coverage = n_pos / n_edges is part of the
    # result, not something the caller must infer
    n_edges = e.count()
    return agg.select(
        F.lit(int(n_edges)).alias("n_edges"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        (
            (
                F.col("rank_pos")
                - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
            )
            / (F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )

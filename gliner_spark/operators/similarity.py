"""Similarity search over an embedding column (array<float>).

 knn_bruteforce  exact top-k by cosine: broadcast the (small) query set,
                 one narrow pass over the corpus, per-query top-k via
                 window ranking. The corpus side never shuffles its
                 vectors — only (query_id, vec_id, score) survivor rows
                 reach the rank shuffle.
 knn_ivf         IVF ANN: k-means-trained centroids → every corpus vector
                 assigned to its nearest-centroid Voronoi cell (broadcast
                 centroid literals, native argmin — the same expression
                 k-means assignment uses) → probe only the n_probe closest
                 cells per query. The inverted-file partitioning is exactly
                 a repartition-by-cell; at 100 TB the cell assignment is
                 precomputed/bucketed once and queries touch
                 n_probe/n_cells of the data.

Scores are rounded to 6 decimals before ranking with a vec_id tie-break,
making rankings reproducible across engines (DuckDB oracle) and summation
orders.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.commit import write_text
from .dedup import _dot, unit_vector


def _unit(col: str = "embedding") -> Column:
    return unit_vector(col).alias("unit")


def knn_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """queries(query_id, embedding) × embeddings(vec_id, embedding) →
    (query_id, vec_id, cos, rank ≤ k). Exact; query set is broadcast."""
    corpus = embeddings.select("vec_id", _unit())
    q = queries.select("query_id", F.col("unit").alias("q_unit")) if "unit" in queries.columns else queries.select(
        "query_id", _unit().alias("q_unit")
    )
    scored = corpus.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(_dot("unit", "q_unit"), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def assign_nearest(
    df: DataFrame, cent_lists: list[list[float]], vec_col: str
) -> DataFrame:
    """argmin over ‖x − c_i‖² for every row, with a deterministic
    (dist2, cluster) index tie-break. The k×d centroid matrix rides as a
    ONE-ROW broadcast-joined column (`_with_const`) instead of k×d
    expression literals, so the constant tensor materializes once per
    batch instead of being re-created per row: the broadcast-tensor rule
    that bought 16× on the SQL PQ encode buys ~1.4× here at k=64, on
    EVERY corpus-side assignment (each Lloyd's iteration + the index
    build). Adds `cluster`/`dist2`.

    The per-QUERY probe selection (`_probe_and_rank`) keeps literal
    centroids, where rows are few and a crossJoin would cost more than
    it saves."""
    d = _with_const(
        df, "_ct", [list(map(float, c)) for c in cent_lists],
        "array<array<double>>",
    )
    best = F.expr(
        f"array_min(transform(_ct, (c, i) -> struct("
        f"aggregate(zip_with({vec_col}, c, (a, b) -> (a - b) * (a - b)),"
        f" cast(0.0 as double), (acc, v) -> acc + v) as dist2,"
        f" i as cluster)))"
    )
    return (
        d.withColumn("_best", best)
        .withColumn("cluster", F.col("_best.cluster"))
        .withColumn("dist2", F.col("_best.dist2"))
        .drop("_ct", "_best")
    )


def _mean_vec_agg(dim: int, col: str = "x") -> Column:
    """Element-wise mean of an array column as ONE map-side-combining
    aggregate: `dim` scalar avg()s reassembled into an array. Replaces
    the posexplode → groupBy(key, d).avg → collect_list regroup shape,
    which shuffled dim× the rows TWICE per k-means iteration — at 100 TB
    the partial-agg rows shrink dim×, and locally the second shuffle's
    128-task stage per iteration disappears (train_pq measured ~2×)."""
    c = F.col(col)
    return F.array(*[F.avg(c[i]) for i in range(dim)])


def centroid_table(
    embeddings: DataFrame, n_cells: int = 16, seed: int = 5,
    normalize: bool = True,
) -> DataFrame:
    """Deterministic pseudo-centroids: per hash-cell, the element-wise mean
    of that cell's vectors (one k-means half-step from a hashed init —
    deterministic, no iteration). Returns (cell, centroid array<double>).

    normalize=False clusters the raw `embedding` arrays as-is (the PQ
    subspace path: sub-vector slices of an ALREADY-unit vector must not be
    re-normalized per subspace)."""
    vec = _unit() if normalize else F.col("embedding").alias("unit")
    assigned = embeddings.select(
        F.pmod(F.xxhash64(F.lit(seed), F.col("vec_id")), F.lit(n_cells)).alias(
            "cell"
        ),
        vec,
    )
    exploded = assigned.select(
        "cell", F.posexplode(F.col("unit")).alias("d", "v")
    )
    return (
        exploded.groupBy("cell", "d")
        .agg(F.avg("v").alias("m"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("d"), F.col("m")))
                ),
                lambda s: s.getField("m"),
            ).alias("centroid")
        )
    )


def kmeans(
    embeddings: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-5,
    seed: int = 5,
    normalize: bool = True,
) -> tuple[DataFrame, list[list[float]], float]:
    """Lloyd's k-means over the embedding column, Catalyst-native:

    assignment  argmin ‖x − c‖² per row via an array-of-structs min over
                the k BROADCAST centroid literals (centroids are tiny —
                they ride the plan, the data never shuffles for
                assignment);
    update      groupBy(cluster) with dim element-wise avg() aggregates
                (_mean_vec_agg) — ONE map-side-combining shuffle of
                (cluster, partials) rows per iteration;
    driver      collects k·dim doubles per iteration (the only collect),
                checks centroid shift < tol.

    Init = deterministic hash-cell means (centroid_table — a k-means
    half-step from a hashed partition). Returns (assignments(vec_id,
    cluster, dist2), centroids, inertia). Deterministic: hash init,
    argmin ties broken by cluster index.
    """
    cents_df = centroid_table(embeddings, n_cells=k, seed=seed,
                              normalize=normalize)
    centroids = {
        r["cell"]: list(r["centroid"]) for r in cents_df.collect()
    }
    cents = [centroids.get(i) for i in range(k)]
    # hash cells can be empty for tiny inputs; re-seat on any present one
    filler = next((c for c in cents if c is not None), None)
    if filler is None:
        raise ValueError("kmeans requires a non-empty embeddings input")
    cents = [c if c is not None else filler for c in cents]

    x_expr = (
        unit_vector("embedding") if normalize
        else F.col("embedding").cast("array<double>")
    )
    e = embeddings.select("vec_id", x_expr.alias("x"))
    e = e.localCheckpoint()  # scanned every iteration

    def assign(cent_lists):
        return assign_nearest(e, cent_lists, "x").select(
            "vec_id", "x", "cluster", "dist2"
        )

    dim = len(cents[0])
    assigned = None
    for _ in range(max_iter):
        assigned = assign(cents)
        new_rows = (
            assigned.groupBy("cluster")
            .agg(_mean_vec_agg(dim, "x").alias("centroid"))
            .collect()
        )
        new_map = {r["cluster"]: list(r["centroid"]) for r in new_rows}
        new_cents = [new_map.get(i, cents[i]) for i in range(k)]
        shift = max(
            sum((a - b) ** 2 for a, b in zip(c0, c1)) ** 0.5
            for c0, c1 in zip(cents, new_cents)
        )
        cents = new_cents
        if shift < tol:
            break
    final = assign(cents)
    inertia = final.agg(F.sum("dist2").alias("i")).collect()[0]["i"]
    return final.select("vec_id", "cluster", "dist2"), cents, float(inertia)


def knn_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 5,
    kmeans_iter: int = 4,
) -> DataFrame:
    """IVF ANN: k-means-trained cells, nearest-centroid routing.

    train   Lloyd's k-means (few iterations partition well enough) gives
            the n_cells centroids;
    assign  every corpus vector routes to its argmin-‖x−c‖² cell — the
            SAME `assign_nearest` expression k-means assignment uses,
            so cell contents really are the Voronoi regions the probe
            step assumes (the r01 version hash-assigned cells at random,
            making probing ≈ uniform sampling — not ANN);
    probe   each query searches only its n_probe nearest cells (again by
            ‖q−c‖², the identical metric — unit vectors make L2 and
            cosine rankings agree up to the |c|² offset handled by using
            one metric on both sides), then exact cosine within them.

    Approximate — recall rises with n_probe (= exact at n_probe =
    n_cells, and far above n_probe/n_cells on clustered data, which is
    the property the recall pytest pins). At 100 TB the assignment is
    precomputed once and written bucketed by cell; queries then touch
    n_probe/n_cells of the data with no shuffle of corpus vectors.
    Returns (query_id, vec_id, cos, rank).
    """
    _assigned, cents, _inertia = kmeans(
        embeddings, k=n_cells, max_iter=kmeans_iter, seed=seed
    )
    corpus = (
        assign_nearest(embeddings.select("vec_id", _unit()), cents, "unit")
        .withColumnRenamed("cluster", "cell")
        .drop("dist2")
    )
    return _probe_and_rank(corpus, queries, cents, k, n_probe)


def _probe_and_rank(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    k: int,
    n_probe: int,
) -> DataFrame:
    """Shared IVF probe: rank cells per query by centroid distance (all
    native, no join — the centroids ride the plan as literals), keep the
    n_probe closest, broadcast-join on `cell`, exact cosine within,
    row_number top-k. corpus: (vec_id, unit, cell)."""
    q = queries.select("query_id", _unit().alias("q_unit"))
    cell_structs = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        "q_unit",
                        F.array(*[F.lit(v) for v in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("dist2"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(cents)
        ]
    )
    probes = q.select(
        "query_id",
        "q_unit",
        F.explode(
            F.slice(F.array_sort(cell_structs), 1, n_probe)
        ).alias("probe"),
    ).select("query_id", "q_unit", F.col("probe.cell").alias("cell"))
    # probe: equi-join on cell — touches only the probed Voronoi regions
    scored = corpus.join(F.broadcast(probes), "cell").select(
        "query_id",
        "vec_id",
        F.round(_dot("unit", "q_unit"), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    seed: int = 5,
    kmeans_iter: int = 4,
    train_cap: int | None = None,
) -> list[list[float]]:
    """Persist an IVF index: train cells once, assign once, WRITE the
    unit-vector corpus as parquet PARTITIONED BY cell, centroids as a
    JSON sidecar. This is the 100 TB shape the in-memory knn_ivf
    docstring promises: assignment is paid once at build time; every
    later query batch reads only its probed Voronoi partitions (Spark's
    dynamic partition pruning fires on the broadcast cell join — see
    knn_ivf_indexed), no re-assignment, no shuffle of corpus vectors.

    `path` must be a filesystem path writable from the driver (the JSON
    sidecar is written driver-side; on a real lakehouse the centroids
    would live in the table's metadata)."""
    import json

    train = embeddings
    if train_cap:
        # FAISS recipe: the coarse quantizer trains on a deterministic
        # hash-uniform sample — O(train_cap) per iteration instead of a
        # full corpus scan; the ASSIGNMENT below still covers every row.
        # GlobalLimit leaves ONE partition — re-spread it or every
        # k-means iteration runs single-core (measured 110 s of a 137 s
        # build at 50k rows)
        train = (
            embeddings.orderBy(F.xxhash64(F.lit(seed), "vec_id"))
            .limit(train_cap)
            .repartition(
                embeddings.sparkSession.sparkContext.defaultParallelism
            )
        )
    _assigned, cents, _inertia = kmeans(
        train, k=n_cells, max_iter=kmeans_iter, seed=seed
    )
    corpus = (
        assign_nearest(embeddings.select("vec_id", _unit()), cents, "unit")
        .withColumnRenamed("cluster", "cell")
        .drop("dist2")
    )
    # co-locate each cell before the partitioned write: without this,
    # every one of the T scan tasks opens a file in every cell dir
    # (T × n_cells small files); with it, one file per cell
    corpus.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)
    write_text(path, "_centroids.json", json.dumps(cents))
    return cents


def knn_ivf_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """kNN over a persisted IVF index (build_ivf_index): identical
    results to knn_ivf with the same training parameters (same seed ⇒
    same deterministic k-means ⇒ same cells — parity-pinned in test),
    but the corpus scan is limited to the probed partitions via dynamic
    partition pruning on the `cell` partition column instead of scanning
    and re-assigning the whole corpus per query batch."""
    import json
    import os

    with open(os.path.join(index_path, "_centroids.json")) as f:
        cents = json.load(f)
    corpus = spark.read.parquet(index_path)
    return _probe_and_rank(corpus, queries, cents, k, n_probe)


# ------------------------------------------------------ product quantization


def train_pq(
    embeddings: DataFrame,
    m: int = 8,
    nbits: int = 4,
    kmeans_iter: int = 4,
    seed: int = 5,
    sample_cap: int | None = 65536,
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al. 2011, the
    IVF-PQ/FAISS compression scheme): the unit vector is split into `m`
    contiguous subspaces and each subspace gets its own 2^nbits-centroid
    codebook from the SAME Catalyst-native Lloyd's k-means the IVF path
    uses (normalize=False — the sub-slices of an already-unit vector must
    not be re-normalized). Returns codebooks[m][2^nbits][d/m].

    Why PQ at 100 TB: a 64-dim float32 corpus vector is 256 bytes; its
    m=8 × 4-bit code is FOUR bytes — the corpus index fits in ~1.6% of
    the raw footprint, so the scan side of ANN becomes bandwidth-trivial
    and the exact vectors are only fetched for the final re-rank
    (knn_pq(refine=...)). Training cost is m small k-means over a SAMPLE
    at scale; the codebooks (m · 2^nbits · d/m doubles) ride the plan as
    literals exactly like the IVF centroids.
    """
    dim = len(embeddings.select("embedding").first()["embedding"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m
    k = 1 << nbits
    if sample_cap:
        # codebooks are trained on a deterministic hash-uniform sample —
        # training cost is O(sample_cap), independent of corpus size
        # (the FAISS recipe: quantizer training never scans the corpus;
        # TakeOrderedAndProject keeps only sample_cap rows per scan task)
        embeddings = (
            embeddings.orderBy(F.xxhash64(F.lit(seed), "vec_id"))
            .limit(sample_cap)
            .repartition(
                embeddings.sparkSession.sparkContext.defaultParallelism
            )
        )  # re-spread the single-partition GlobalLimit (see train_cap)

    # FUSED multi-subspace Lloyd's: all m subspace k-means advance in the
    # same jobs — (vec_id, j, sub) rows carry every subspace through ONE
    # (j, cluster, dim)-keyed map-side-combining shuffle per iteration and
    # ONE driver collect of m·k·(d/m) = k·d doubles, instead of m
    # sequential driver loops (the m-loop version measured ~6× slower at
    # sf0.01 purely on scheduler latency, and serializes what is
    # embarrassingly parallel at cluster scale).
    vec = (
        _unit()
        if normalize
        else F.col("embedding").cast("array<double>").alias("unit")
    )
    subs = embeddings.select("vec_id", vec).select(
        "vec_id",
        F.posexplode(
            F.array(
                *[F.slice("unit", j * sub_d + 1, sub_d) for j in range(m)]
            )
        ).alias("j", "sub"),
    )
    subs = subs.localCheckpoint()  # scanned every iteration

    def collect_books(grouped_rows, prev):
        got = {(r["j"], r["cluster"]): list(r["centroid"]) for r in grouped_rows}
        out = []
        for j in range(m):
            cs = [got.get((j, i)) for i in range(k)]
            filler = next((c for c in cs if c is not None), None)
            if filler is None and prev is not None:
                cs = prev[j]
            else:
                if filler is None:
                    raise ValueError("train_pq requires non-empty input")
                cs = [
                    c
                    if c is not None
                    else (prev[j][i] if prev is not None else filler)
                    for i, c in enumerate(cs)
                ]
            out.append(cs)
        return out

    init_rows = (
        subs.select(
            "j",
            F.pmod(
                F.xxhash64(F.lit(seed), "vec_id", "j"), F.lit(k)
            ).alias("cluster"),
            "sub",
        )
        .groupBy("j", "cluster")
        .agg(_mean_vec_agg(sub_d, "sub").alias("centroid"))
        .collect()
    )
    books = collect_books(init_rows, None)

    # the row's own subspace codebook is picked by indexing the broadcast
    # codebook tensor with the row's `j` — ONE parsed SQL expression over
    # a one-row broadcast column (the per-subspace when-chain of composed
    # per-centroid distance Columns cost seconds of driver wall per
    # iteration in py4j expression construction alone, and an
    # expression-literal tensor is re-evaluated per element inside HOF
    # lambdas — see _with_books)
    assign = F.expr(_pq_argmin_sql("sub", "_bk", "j", k))

    for _ in range(kmeans_iter):
        new_rows = (
            _with_books(subs, books)
            .select("j", assign.alias("cluster"), "sub")
            .groupBy("j", "cluster")
            .agg(_mean_vec_agg(sub_d, "sub").alias("centroid"))
            .collect()
        )
        new_books = collect_books(new_rows, books)
        shift = max(
            sum((a - b) ** 2 for a, b in zip(c0, c1)) ** 0.5
            for bj0, bj1 in zip(books, new_books)
            for c0, c1 in zip(bj0, bj1)
        )
        books = new_books
        if shift < 1e-5:
            break
    return books


def _with_const(df: DataFrame, name: str, value, sql_type: str) -> DataFrame:
    """Attach a constant tensor as a column via a ONE-ROW broadcast join.
    Constant tensors must ride as DATA, not as expression literals: a
    1024-leaf nested array() literal inside a higher-order-function
    lambda is NOT constant-folded and gets re-evaluated per element
    access — measured 37 s vs 2.3 s for the same 500-row PQ encode
    (16×). The broadcast row is deserialized once per task, exactly the
    shape a real cluster wants."""
    spark = df.sparkSession
    one = spark.createDataFrame([(value,)], f"{name}: {sql_type}")
    return df.crossJoin(F.broadcast(one))


def _with_books(df: DataFrame, codebooks) -> DataFrame:
    """The m × 2^nbits × d/m PQ codebook tensor as a `_bk` column."""
    return _with_const(
        df,
        "_bk",
        [[list(map(float, c)) for c in book] for book in codebooks],
        "array<array<array<double>>>",
    )


def _pq_argmin_sql(sub: str, books: str, j: str, k: int) -> str:
    """argmin_i ‖sub − books[j][i]‖² with index tie-break, as SQL text:
    same struct-ordered array_min metric as assign_nearest, but the
    k-way unroll is a zip_with over the codebook column instead of k
    composed Column objects (the py4j-free formulation — building the
    composed version for m·k=128 centroids cost ~10 s of pure driver
    wall per query before any task ran)."""
    return (
        f"array_min(zip_with({books}[{j}], sequence(0, {k - 1}), "
        f"(c, i) -> struct("
        f"aggregate(zip_with({sub}, c, (a, b) -> (a - b) * (a - b)), "
        f"0D, (acc, v) -> acc + v) AS dist2, i AS cluster))).cluster"
    )


def _pq_codes_udf(codebooks, nbits: int):
    """Vectorized (Arrow-batched) PQ encoder: per subspace, argmin
    ‖sub − c‖² over that subspace's codebook with lowest-index tie-break
    (the same metric as train_pq's assignment), the m codes PACKED into
    one BIGINT (code_j in bits [j·nbits, (j+1)·nbits)) — 8 bytes per
    vector at m=8/nbits=4 instead of a 256-byte float vector; requires
    m·nbits ≤ 63. ~µs/vector, where the interpreted-HOF form of the
    same argmin costs ~2 ms/vector."""
    import numpy as np

    nb = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub_d)
    m, _k, sub_d = nb.shape
    if m * nbits > 63:
        raise ValueError(f"m·nbits = {m * nbits} > 63: cannot pack")
    shifts = nbits * np.arange(m, dtype=np.int64)

    @F.pandas_udf("long")
    def enc_packed(units: "pd.Series") -> "pd.Series":
        if not len(units):
            return pd.Series([], dtype=np.int64)
        X = np.asarray(list(units), dtype=np.float64)
        S = X.reshape(X.shape[0], m, sub_d)
        codes = np.empty((X.shape[0], m), dtype=np.int64)
        for j in range(m):
            d2 = (
                (S[:, j, None, :] - nb[j][None, :, :]) ** 2
            ).sum(axis=-1)  # (n, k)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series((codes << shifts[None, :]).sum(axis=1))

    return enc_packed


# -------------------------------------------------------- Arrow ADC path


def _np_round6(s):
    """Spark-exact 6dp rounding in numpy. Spark's round(col, 6) on a
    double is BigDecimal.valueOf(x).setScale(6, HALF_UP) — HALF_UP over
    the SHORTEST decimal repr of x, which near a .000_000_5 boundary
    can differ from the vectorized floor(|x|·1e6 + 0.5) (e.g.
    x=1.0412225 stored as …2249…: shortest repr rounds up, the scaled
    product rounds down). So: vectorize the common case, then re-round
    the rare near-boundary values exactly via Python's repr (the same
    shortest-round-trip decimal as Java's Double.toString) + Decimal
    HALF_UP. (np.round alone is banker's — wrong convention.)"""
    import numpy as np

    s = np.asarray(s, dtype=np.float64)
    scaled = np.abs(s) * 1e6
    out = np.copysign(np.floor(scaled + 0.5), s) / 1e6
    frac = scaled - np.floor(scaled)
    near = np.abs(frac - 0.5) < 1e-6
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        flat_out = out.reshape(-1)
        flat_in = s.reshape(-1)
        q = Decimal("0.000001")
        for i in np.flatnonzero(near.reshape(-1)):
            flat_out[i] = float(
                Decimal(repr(float(flat_in[i]))).quantize(
                    q, rounding=ROUND_HALF_UP
                )
            )
    return out


def _collect_query_units(queries: DataFrame):
    """Bounded-row collect of the QUERY side — the contract's small
    broadcast side (knn_bruteforce broadcasts this same frame; a query
    batch that doesn't fit on the driver wouldn't fit in a broadcast
    either). Unit vectors are computed by the JVM `_unit` expression
    before collecting, so queries normalize with the same arithmetic as
    the exact-refine side. NULL-embedding queries are dropped (they
    contribute no candidates). Returns (ids list, units (Q, d)
    float64)."""
    import numpy as np

    rows = queries.select("query_id", _unit().alias("q_unit")).collect()
    rows = [r for r in rows if r.q_unit is not None]
    ids = [r.query_id for r in rows]
    units = (
        np.asarray([list(r.q_unit) for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0), dtype=np.float64)
    )
    return ids, units


def _pq_luts_np(q_units, codebooks):
    """luts[q][j][i] = <q_sub_j, codebook_j[i]> for every query at once,
    built ONCE on the driver and shipped to workers inside the
    mapInArrow closure (Q · m · 2^nbits doubles — a few KB; rides task
    serialization like a broadcast)."""
    import numpy as np

    nb = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub_d)
    m, _k, sub_d = nb.shape
    subs = q_units.reshape(q_units.shape[0], m, sub_d)
    return np.einsum("qjd,jkd->qjk", subs, nb)


def _empty_ranked(spark, qid_field):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("query_id", qid_field.dataType),
            T.StructField("vec_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    return spark.createDataFrame([], schema)


def _adc_topk_arrow(
    codes_df: DataFrame,
    qids: list,
    luts,
    kk: int,
    qid_dtype,
    nbits: int,
    cell_probe: dict,
) -> DataFrame:
    """Arrow-vectorized ADC with per-partition partial top-k: one
    mapInArrow over the code table gathers lut[q, j, codes[:, j]] for a
    whole batch with ONE take_along_axis per batch (µs/row instead of the
    interpreted HOF's ~ms/row), keeps a running per-query top-kk inside
    the partition, and emits only partitions × Q × kk candidate rows —
    the map-side-combine shape: at 1M corpus rows the global rank window
    sees ~2k rows per query instead of 1M (VERDICT r4 item #1).

    codes_df: (cell, vec_id, packed bigint), codes unpacked by shift+mask
    in numpy. cell_probe maps cell -> (query-index array, qdotc array)
    for the IVF-PQ residual score  <q, c_cell> + Σ_j lut[j][code_j];
    rows of unprobed cells are skipped. Flat PQ is the one-cell case:
    every row in cell 0, probed by every query with qdotc 0.

    Scores are 6dp-rounded IN the mapper (same HALF_UP convention as the
    JVM, _np_round6) so the partial selection and the final global window
    rank on identical values. Returns (query_id, vec_id, score)."""
    from pyspark.sql import types as T

    spark = codes_df.sparkSession
    nq = len(qids)
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_dtype),
            T.StructField("vec_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    src = codes_df.select(
        F.col("cell").cast("int").alias("cell"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "packed",
    )
    m = luts.shape[1]
    # the emitted arrays MUST carry the declared arrow types: pa.array
    # inference turns an IntegerType query_id (e.g. a lit() literal)
    # into int64 and the JVM's ArrowColumnVector accessor then crashes
    # on the int32 it was promised
    from pyspark.sql.pandas.types import to_arrow_type

    qid_arrow = to_arrow_type(qid_dtype)

    def mapper(batches):
        import numpy as np
        import pyarrow as pa

        best_s = [np.empty(0, dtype=np.float64) for _ in range(nq)]
        best_v = [np.empty(0, dtype=np.int64) for _ in range(nq)]

        def merge(qi, scores, vids):
            cs = np.concatenate([best_s[qi], scores])
            cv = np.concatenate([best_v[qi], vids])
            order = np.lexsort((cv, -cs))[:kk]
            best_s[qi], best_v[qi] = cs[order], cv[order]

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            vid = batch.column("vec_id").to_numpy(zero_copy_only=False)
            packed = batch.column("packed").to_numpy(zero_copy_only=False)
            shifts = nbits * np.arange(m, dtype=np.int64)
            codes = (packed[:, None] >> shifts[None, :]) & (
                (1 << nbits) - 1
            )
            cells = batch.column("cell").to_numpy(zero_copy_only=False)
            for c in np.unique(cells):
                probe = cell_probe.get(int(c))
                if probe is None:
                    continue
                q_idx, qdotc = probe
                sel = cells == c
                sub_codes = codes[sel]
                sub_vid = vid[sel]
                # (q, m, n) gather, summed over subspaces -> (q, n)
                s = _np_round6(
                    np.take_along_axis(
                        luts[q_idx],
                        sub_codes.T[None, :, :],
                        axis=2,
                    ).sum(axis=1)
                    + qdotc[:, None]
                )
                for row, qi in enumerate(q_idx):
                    merge(int(qi), s[row], sub_vid)

        out_ids, out_vids, out_s = [], [], []
        for qi in range(nq):
            out_ids.extend([qids[qi]] * len(best_v[qi]))
            out_vids.append(best_v[qi])
            out_s.append(best_s[qi])
        if out_ids:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=qid_arrow),
                    pa.array(
                        np.concatenate(out_vids), type=pa.int64()
                    ),
                    pa.array(
                        np.concatenate(out_s), type=pa.float64()
                    ),
                ],
                names=["query_id", "vec_id", "score"],
            )

    return src.mapInArrow(mapper, out_schema)


def _rank_topk(
    scored: DataFrame, k: int, score_col: str = "score"
) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", score_col, "rank")
    )


def _refine_exact(
    ranked: DataFrame,
    source: DataFrame,
    queries: DataFrame,
    k: int,
    refine: int,
) -> DataFrame:
    """Re-rank the top refine·k ADC candidates by exact cosine — point
    lookups of just those vec_ids against the full-vector table.

    The candidate list (Q · refine · k id pairs — bounded by the small
    query-batch contract) is BROADCAST and the corpus is the probe
    side: the full-vector table never shuffles and its unit vectors are
    only computed for the matched rows. The reversed shape (shuffling
    corpus (vec_id, unit) to meet the candidates) moved ~0.5 GB and
    cost 27 s of the 29 s refine wall at 1M×64 (measured r5)."""
    cand = ranked.where(F.col("rank") <= refine * k).select(
        "query_id", "vec_id"
    )
    q = queries.select("query_id", _unit().alias("q_unit"))
    exact = (
        source.select("vec_id", "embedding")
        .join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot(unit_vector("embedding"), F.col("q_unit")), 6
            ).alias("score"),
        )
    )
    return _rank_topk(exact, k)


def _adc_knn(
    codes_df: DataFrame,
    queries: DataFrame,
    qids: list,
    luts,
    nbits: int,
    cell_probe: dict,
    k: int,
    refine: int,
    source: DataFrame | None,
) -> DataFrame:
    """The one ADC query path behind knn_pq and knn_ivfpq_indexed:
    _adc_topk_arrow partial top-(refine·k or k), the global rank window,
    then either the pure-ADC top-k or the exact re-rank against
    `source`."""
    kk = refine * k if refine else k
    scored = _adc_topk_arrow(
        codes_df,
        qids,
        luts,
        kk,
        queries.schema["query_id"].dataType,
        nbits,
        cell_probe,
    )
    ranked = _rank_topk(scored, kk)
    if not refine:
        return ranked.where(F.col("rank") <= k)
    return _refine_exact(ranked, source, queries, k, refine)


def knn_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    refine: int = 0,
) -> DataFrame:
    """ANN by asymmetric distance computation (ADC) over PQ codes:
    approx_cos(q, x) = Σ_j  <q_j , codebook_j[code_j(x)]>  — the dot
    product of the EXACT query sub-vector with the corpus sub-vector's
    centroid, which is why ADC beats symmetric code-code distance.

    Flat PQ is the one-cell case of IVF-PQ: the corpus is encoded to
    packed codes (nbits = log2 of the codebook size) under a constant
    cell 0, every query probes that cell with <q, c> = 0, and scoring
    runs through the same _adc_topk_arrow LUT gather and per-partition
    partial top-k as knn_ivfpq_indexed — m table lookups per corpus row,
    no vector arithmetic.

    refine > 0 re-ranks the top refine·k ADC candidates by exact cosine
    (joining only those rows back to their full vectors) — the standard
    PQ recall recovery; refine=0 returns pure-ADC ranks.
    Returns (query_id, vec_id, score, rank) where score is approx cos
    (refine=0) or exact cos (refine>0), rounded to 6dp; vec_id is cast
    to long."""
    import numpy as np

    qids, q_units = _collect_query_units(queries)
    if not qids:
        return _empty_ranked(
            embeddings.sparkSession, queries.schema["query_id"]
        )
    nbits = (len(codebooks[0]) - 1).bit_length()
    enc = _pq_codes_udf(codebooks, nbits)
    codes = embeddings.select(
        F.lit(0).alias("cell"),
        "vec_id",
        enc(unit_vector("embedding")).alias("packed"),
    )
    one_cell = {0: (np.arange(len(qids)), np.zeros(len(qids)))}
    return _adc_knn(
        codes,
        queries,
        qids,
        _pq_luts_np(q_units, codebooks),
        nbits,
        one_cell,
        k,
        refine,
        embeddings,
    )


# ------------------------------------------------------------------- IVF-PQ


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    nbits: int = 4,
    seed: int = 5,
    kmeans_iter: int = 4,
    pq_iter: int = 4,
    sample_cap: int | None = 65536,
    train_cap: int | None = None,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Persist a FAISS-shaped IVF-PQ index: coarse k-means cells route
    each unit vector to its Voronoi region, the RESIDUAL x − c_cell is
    product-quantized (residual PQ is what makes IVF-PQ accurate: the
    quantizer only has to cover the within-cell spread, not the whole
    space), and the m codes are PACKED into one BIGINT per vector.

    On-disk layout: parquet (vec_id, packed) PARTITIONED BY cell, plus a
    JSON sidecar with centroids + codebooks. At m=8/nbits=4 a 64-dim
    float corpus row shrinks 256 B → 8 B of payload; a query batch reads
    only its probed cell partitions (dynamic partition pruning — same
    plan shape as knn_ivf_indexed) and scores each row with m table
    lookups, no vector arithmetic. Returns (centroids, codebooks)."""
    import json

    train = embeddings
    if train_cap:
        # same sampled coarse-quantizer training (and the same
        # single-partition GlobalLimit re-spread) as build_ivf_index
        train = (
            embeddings.orderBy(F.xxhash64(F.lit(seed), "vec_id"))
            .limit(train_cap)
            .repartition(
                embeddings.sparkSession.sparkContext.defaultParallelism
            )
        )
    _assigned, cents, _inertia = kmeans(
        train, k=n_cells, max_iter=kmeans_iter, seed=seed
    )
    corpus = (
        assign_nearest(embeddings.select("vec_id", _unit()), cents, "unit")
        .withColumnRenamed("cluster", "cell")
        .drop("dist2")
    )
    # the quantizer sees the RESIDUAL x − c_cell
    resid = _with_const(
        corpus,
        "_ct",
        [list(map(float, c)) for c in cents],
        "array<array<double>>",
    ).select(
        "cell",
        "vec_id",
        F.expr("zip_with(unit, _ct[cell], (a, b) -> a - b)").alias(
            "embedding"
        ),
    )
    books = train_pq(
        resid,
        m=m,
        nbits=nbits,
        kmeans_iter=pq_iter,
        seed=seed,
        sample_cap=sample_cap,
        normalize=False,
    )
    enc = _pq_codes_udf(books, nbits)
    resid.select(
        "cell", "vec_id", enc(F.col("embedding")).alias("packed")
    ).repartition(F.col("cell")).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)
    meta = {"cents": cents, "books": books, "nbits": nbits}
    write_text(path, "_ivfpq.json", json.dumps(meta))
    return cents, books


def knn_ivfpq_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    refine: int = 0,
    source: DataFrame | None = None,
) -> DataFrame:
    """ANN over a persisted IVF-PQ index: probe the n_probe nearest
    cells per query, then score every row of those partitions by
    residual ADC —

        approx_cos(q, x) = <q, c_cell> + Σ_j lut[j][code_j(x)]

    where lut[j][i] = <q_j, book_j[i]> is the per-query table over the
    residual codebooks and code_j is unpacked from the BIGINT by
    shift+mask. The corpus side never touches a float vector; only
    probed partitions are read.

    Cell ranking (by ‖q − c‖², cell-index tie-break), qdotc and the LUTs
    are computed driver-side in numpy from the sidecar centroids and
    codebooks plus the collected (bounded, broadcast-small) query batch;
    probed partitions are selected with a STATIC `cell IN (...)`
    partition filter, and scoring runs through _adc_topk_arrow (batched
    LUT gather, per-partition partial top-k).

    refine > 0 re-ranks the top refine·k ADC candidates by exact cosine
    against `source` (the original embeddings table — point lookups of
    just those vec_ids; required when refine is set)."""
    import json
    import os

    import numpy as np

    with open(os.path.join(index_path, "_ivfpq.json")) as f:
        meta = json.load(f)
    cents, books, nbits = meta["cents"], meta["books"], meta["nbits"]
    if refine and source is None:
        raise ValueError("refine > 0 requires the source embeddings table")

    qids, q_units = _collect_query_units(queries)
    if not qids:
        return _empty_ranked(spark, queries.schema["query_id"])
    C = np.asarray(cents, dtype=np.float64)  # (n_cells, d)
    d2 = ((q_units[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
    qdotc = q_units @ C.T  # (Q, n_cells)
    cell_idx = np.arange(len(cents))
    cell_probe: dict[int, tuple] = {}
    for qi in range(len(qids)):
        probed = np.lexsort((cell_idx, d2[qi]))[:n_probe]
        for c in probed:
            cell_probe.setdefault(int(c), ([], []))
            cell_probe[int(c)][0].append(qi)
            cell_probe[int(c)][1].append(qdotc[qi, c])
    cell_probe = {
        c: (np.asarray(qs, dtype=np.int64), np.asarray(ds))
        for c, (qs, ds) in cell_probe.items()
    }
    pruned = spark.read.parquet(index_path).where(
        F.col("cell").isin(sorted(cell_probe.keys()))
    )
    return _adc_knn(
        pruned,
        queries,
        qids,
        _pq_luts_np(q_units, books),
        nbits,
        cell_probe,
        k,
        refine,
        source,
    )


def jl_signs(out_dim: int, in_dim: int, seed: int = 7) -> list[float]:
    """The deterministic ±1 Johnson-Lindenstrauss sign matrix, laid out
    row-major by output dimension (s[j*in_dim + i]): sign(j, i) = +1
    iff md5("{seed}|rp|{j}|{i}")[:8]/2^32 >= 0.5 — the repo's
    cross-engine uniform, so DuckDB regenerates the identical matrix
    inside the oracle SQL and python replays it in tests."""
    import hashlib

    out = []
    for j in range(out_dim):
        for i in range(in_dim):
            h = hashlib.md5(f"{seed}|rp|{j}|{i}".encode()).hexdigest()
            out.append(1.0 if int(h[:8], 16) / 2**32 >= 0.5 else -1.0)
    return out


def random_project(
    embeddings: DataFrame,
    out_dim: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection → (id, proj): each
    UNIT-normalized input vector multiplied by a deterministic ±1 sign
    matrix and scaled by 1/sqrt(out_dim) (Achlioptas 2001 — the
    database-friendly JL construction; sign matrices match dense
    Gaussian JL guarantees). The dimensionality-reduction front end
    for ANN at scale: a 1024-d corpus projected to 64-d cuts every
    downstream distance computation 16x while preserving pairwise
    inner products to within the JL epsilon.

    Scale shape: a PURE MAP — the sign matrix rides as a one-row
    broadcast column (never an expression literal, the SQL PQ
    encode lesson), each output coordinate is one zip_with/aggregate fold
    over a contiguous slice, zero shuffles, zero driver data besides
    the out_dim x in_dim signs. The fold adds the same doubles in the
    same i-ascending order as DuckDB's list_sum replay, so projected
    values are bit-identical cross-engine (`embedding_near_dup` 'jl'
    leg) and exactly reproducible for shard regeneration.
    """
    import math

    if in_dim is None:
        row = embeddings.select(F.size(vec_col).alias("d")).first()
        if row is None:
            raise ValueError("cannot infer in_dim from an empty frame")
        in_dim = row["d"]
    signs = jl_signs(out_dim, in_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    base = embeddings.select(
        id_col, unit_vector(vec_col).alias("_unit")
    )
    with_s = _with_const(base, "_s", signs, "array<double>")
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)),
        lambda j: F.aggregate(
            F.zip_with(
                F.col("_unit"),
                F.slice(F.col("_s"), j * in_dim + 1, in_dim),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        * F.lit(scale),
    )
    return with_s.select(id_col, proj.alias("proj"))

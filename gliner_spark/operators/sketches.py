"""Count-min sketch: mergeable sub-linear frequency sketch.

The missing piece between exact `groupBy().count()` (fine in batch,
unbounded state in a stream) and HLL (distinct counts only): CMS
answers "how often has THIS key appeared" within ε·N overestimate
using depth·width counters total, regardless of key cardinality —
the hot-key / heavy-hitter detector for streaming admission control
(`streaming/ingest.py` token-budget shapes) and skew diagnosis.

Representation is a SPARSE DataFrame (d, bucket, n) — at most
depth·width rows ever, dense only if the data actually fills it.
Build = one explode(depth) + one hash agg (map-side combining);
merge = unionByName + the same agg (counters are additive);
probe = one broadcast-sized equi-join + a min-over-depth agg.
Guarantees (Cormode & Muthukrishnan 2005): estimate ≥ true count
always; estimate ≤ true + εN with probability 1−δ for
width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉.

Streaming: `fold_countmin_batch` is the foreachBatch body — fold the
micro-batch's sketch into a persisted sparse state with the repo's
marker-last commit (plans/commit.py; state is bounded by construction,
so unlike exact streaming counts it never needs a watermark to stay
finite).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.commit import committed, drop_dead, write_text

# a sketch state's generation directories and their markers
_GEN = "_gen={}"
_GEN_MARKER = "_gen={}.ok"


def _bucket(key_col, d: int, width: int, seed: int):
    return F.pmod(
        F.xxhash64(key_col, F.lit(int(seed) * 1009 + d)), F.lit(int(width))
    )


def build_countmin(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 8192,
    seed: int = 17,
    weight_col: str | None = None,
) -> DataFrame:
    """Sketch the frequency of `key_col` values → sparse (d, bucket, n).

    One explode over the `depth` hash rows per input row + ONE
    map-side-combining hash agg on (d, bucket) — the shuffled state is
    the sketch (≤ depth·width rows), never the key set.
    """
    if depth < 1 or width < 2:
        raise ValueError("depth >= 1 and width >= 2 required")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _bucket(F.col(key_col), d, width, seed).alias(
                            "bucket"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("s"),
        w.alias("w"),
    )
    return (
        rows.select("s.d", "s.bucket", "w")
        .groupBy("d", "bucket")
        .agg(F.sum("w").alias("n"))
    )


def merge_countmin(a: DataFrame, b: DataFrame) -> DataFrame:
    """Counters are additive: merge = union + re-agg (same shape as
    build, so merging is associative and commutative — the property
    that makes the sketch partition- and micro-batch-friendly)."""
    return (
        a.unionByName(b)
        .groupBy("d", "bucket")
        .agg(F.sum("n").alias("n"))
    )


def cms_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 8192,
    seed: int = 17,
) -> DataFrame:
    """Point-query estimates → keys plus `est` (min over depth rows).

    The sketch side is ≤ depth·width rows — broadcast it; the query
    side explodes to depth rows per key, joins on (d, bucket), and a
    missing counter row means 0 (min folds it first). est ≥ true
    always; collisions only inflate.
    """
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _bucket(F.col(key_col), d, width, seed).alias(
                            "bucket"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("s"),
    ).select(key_col, "s.d", "s.bucket")
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("est"))
    )


def fold_countmin_batch(
    batch: DataFrame,
    state_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 8192,
    seed: int = 17,
) -> None:
    """foreachBatch body: fold one micro-batch into the persisted
    sparse sketch at `state_path` as a new `_gen=N` generation
    (`_commit_generation`: a crash before the marker leaves an invisible
    orphan, and replaying the batch is idempotent at the GENERATION
    level — the sketch itself is additive, so the fold order never
    matters). State on disk is ≤ depth·width rows per generation and
    exactly one live generation after each fold.
    """
    spark = batch.sparkSession
    live = current_countmin(spark, state_path)
    delta = build_countmin(
        batch, key_col, depth=depth, width=width, seed=seed
    )
    merged = merge_countmin(live, delta) if live is not None else delta
    _commit_generation(merged, state_path)


def _commit_generation(df: DataFrame, state_path: str) -> None:
    """Commit df as the next `_gen=N` generation of a sketch state under
    plans/commit.py's marker-last protocol (marker `_gen=N.ok`), then GC.
    A sketch state has a single writer, so every other generation,
    marked or markerless, is dead."""
    gens = committed(state_path, _GEN_MARKER)
    nxt = max(gens, default=-1) + 1
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(state_path, _GEN.format(nxt))
    )
    write_text(state_path, _GEN_MARKER.format(nxt), "ok")
    drop_dead(state_path, _GEN_MARKER, _GEN, lambda g: g != nxt)


def current_countmin(spark, state_path: str) -> DataFrame | None:
    """The live committed sketch of a state folded by any
    `fold_*_batch`, or None before the first fold."""
    gens = committed(state_path, _GEN_MARKER)
    if not gens:
        return None
    return spark.read.parquet(
        os.path.join(state_path, _GEN.format(max(gens)))
    )


# every sketch state shares the `_gen=N` layout
current_kmv = current_hll = current_countmin


def build_kmv(
    df: DataFrame,
    key_col: str,
    k: int = 1024,
    seed: int = 23,
) -> DataFrame:
    """Bottom-k (KMV) distinct-value sketch → ≤ k rows (v) of the k
    smallest xxhash64 values of `key_col` (Beyer et al., "On Synopses
    for Distinct-Value Estimation", SIGMOD 2007).

    The set-operation side HLL lacks: `approx_count_distinct` merges
    by register-max so it answers UNION cardinality only; a KMV
    sketch is a uniform sample of the distinct-hash space, so two
    sketches also yield INTERSECTION and Jaccard estimates
    (`kmv_set_ops`) — the cross-corpus overlap report ("how much of
    crawl B is already in crawl A") without rescanning either corpus.

    Build = one map projection to int64 hashes + a map-side-combining
    distinct + TakeOrderedAndProject(k): the shuffle moves only the
    per-partition-distinct 8-byte hashes, and the final sort never
    materializes more than k rows per partition. The persisted state
    is ≤ k int64s; folding a new shard is `merge_kmv` over two tiny
    tables, no corpus I/O.
    """
    if k < 2:
        raise ValueError("k >= 2 required")
    return (
        df.select(F.xxhash64(F.col(key_col), F.lit(int(seed))).alias("v"))
        .distinct()
        .orderBy("v")
        .limit(int(k))
    )


def merge_kmv(a: DataFrame, b: DataFrame, k: int = 1024) -> DataFrame:
    """union → distinct → bottom-k: the k smallest distinct hashes of
    A ∪ B — exactly `build_kmv` over the concatenated inputs, so the
    merge is associative, commutative, and idempotent (re-folding the
    same shard is a no-op). Both sides are ≤ k rows."""
    return a.unionByName(b).distinct().orderBy("v").limit(int(k))


def _kmv_u(h: int) -> float:
    # signed int64 hash -> uniform (0, 1]; +1 keeps u_k > 0 even at
    # the minimum hash so the estimator never divides by zero
    return (h + 2**63 + 1) / 2.0**64


def kmv_estimate(values: list[int], k: int) -> float:
    """Distinct-count estimate from a sketch's sorted hash list: exact
    |values| while the sketch is unsaturated (< k rows ⇒ it holds the
    whole distinct-hash set), else the KMV estimator (k−1)/u_(k)."""
    vs = sorted(values)
    if len(vs) < k:
        return float(len(vs))
    return (k - 1) / _kmv_u(vs[k - 1])


def kmv_set_ops(
    a: DataFrame,
    b: DataFrame,
    k: int = 1024,
) -> dict:
    """Union / intersection / Jaccard estimates from two KMV sketches
    (the ρ-combination of Beyer et al. §4): L = bottom-k of the merged
    hash set is a size-|L| uniform sample of the distinct union, so
    Jaccard ≈ |{v ∈ L present in both sketches}| / |L| and
    intersection ≈ Jaccard · union_estimate. Exact (not approximate)
    whenever the merged sketch is unsaturated — the whole union fits.

    Everything here moves ≤ 3k rows; the collect is the sketch, never
    the corpus. Returns {union_est, intersect_est, jaccard, sampled}.
    """
    av = {r["v"] for r in a.select("v").collect()}
    bv = {r["v"] for r in b.select("v").collect()}
    merged = sorted(av | bv)[: int(k)]
    if not merged:
        return {
            "union_est": 0.0,
            "intersect_est": 0.0,
            "jaccard": 0.0,
            "sampled": 0,
        }
    union_est = kmv_estimate(merged, k)
    both = sum(1 for v in merged if v in av and v in bv)
    jacc = both / len(merged)
    return {
        "union_est": union_est,
        "intersect_est": jacc * union_est,
        "jaccard": jacc,
        "sampled": len(merged),
    }


def build_ams(
    df: DataFrame,
    key_col: str,
    d: int = 64,
    seed: int = 31,
    weight_col: str | None = None,
) -> DataFrame:
    """AMS / tug-of-war sketch (Alon-Matias-Szegedy 1996): ONE row of
    d signed counters Z_j = Σ_x s_j(x)·f(x) with s_j(x) = ±1 from
    xxhash64 parity. E[Z_j²] = F₂ = Σ f(x)² (the self-join size), and
    for two sketches with the SAME (d, seed), E[Z_aj·Z_bj] =
    Σ_x f_a(x)·f_b(x) — the equi-join OUTPUT size. That makes this
    the pre-flight skew/join-size probe: estimate how big a join will
    be from two one-row sketches instead of running it.

    Build = one map projection to d signed weights + ONE combining
    aggregate (d sums). Merge = add the rows elementwise (sums are
    linear — also how a DELETE folds in: negative weights). Estimator
    variance is 2F₂²/d; mean-of-d is within ~20% at d=64 w.h.p.
    """
    if d < 1:
        raise ValueError("d >= 1 required")
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    signs = [
        (
            F.lit(1.0)
            - F.lit(2.0)
            * F.pmod(
                F.xxhash64(F.col(key_col), F.lit(seed * 1009 + j)),
                F.lit(2),
            ).cast("double")
        )
        for j in range(d)
    ]
    return df.agg(
        *[F.sum(w * s).alias(f"z{j}") for j, s in enumerate(signs)]
    )


def _ams_row(sketch: DataFrame) -> list[float]:
    row = sketch.first()
    return [float(v or 0.0) for v in row]


def merge_ams(a: DataFrame, b: DataFrame) -> DataFrame:
    """Elementwise sum of the two one-row sketches (linearity)."""
    cols = a.columns
    return (
        a.unionByName(b)
        .agg(*[F.sum(c).alias(c) for c in cols])
    )


def ams_f2(sketch: DataFrame) -> float:
    """Self-join size estimate F̂₂ = mean_j Z_j² — the skew number:
    F₂/N² of a uniform key is 1/#keys; a heavy hitter drags it up."""
    zs = _ams_row(sketch)
    return sum(z * z for z in zs) / len(zs)


def ams_join_size(a: DataFrame, b: DataFrame) -> float:
    """Equi-join output-size estimate mean_j Z_aj·Z_bj for two
    sketches built with identical (d, seed)."""
    za = _ams_row(a)
    zb = _ams_row(b)
    if len(za) != len(zb):
        raise ValueError("sketches have different depth")
    return sum(x * y for x, y in zip(za, zb)) / len(za)


def fold_kmv_batch(
    batch: DataFrame,
    state_path: str,
    key_col: str,
    k: int = 1024,
    seed: int = 23,
) -> None:
    """foreachBatch body: fold one micro-batch's KMV sketch into the
    persisted bottom-k state at `state_path` — same marker-last
    `_gen=N` commit as `fold_countmin_batch` (state ≤ k rows, crash
    orphans invisible); the merge is idempotent (hash-set union), so
    replaying a batch after a crash is a no-op even at the VALUE
    level, not just the generation level."""
    spark = batch.sparkSession
    live = current_kmv(spark, state_path)
    delta = build_kmv(batch, key_col, k=k, seed=seed)
    merged = merge_kmv(live, delta, k=k) if live is not None else delta
    _commit_generation(merged, state_path)


def heavy_hitters_fold(
    state: DataFrame | None,
    batch: DataFrame,
    key_col: str,
    k: int = 100,
    weight_col: str | None = None,
) -> DataFrame:
    """Misra-Gries heavy-hitters fold → ≤ k rows (key, n): merge one
    batch's exact counts into the candidate summary, then apply the
    MG decrement (subtract the (k+1)-th largest count from everyone,
    drop ≤0) — the ENUMERATION side CMS lacks: CMS answers point
    queries but cannot list the heavy keys; MG maintains the
    candidate set itself in k rows of state with the merged-summary
    guarantee (Agarwal et al. 2012): true_count − εN ≤ n ≤
    true_count with ε = 1/(k+1), so every key above εN survives.

    Per fold: one exact hash agg over the BATCH (bounded by the
    micro-batch, not the stream), one union + re-agg against ≤ k
    state rows, one (k+1)-th-order-statistic lookup over ≤ k +
    batch-keys rows, one subtract-and-filter. Deterministic: ties at
    the cut survive or die together (the decrement is value-based,
    never a row_number pick).
    """
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    counts = batch.select(F.col(key_col).alias("key"), w.alias("n")).groupBy(
        "key"
    ).agg(F.sum("n").alias("n"))
    if state is not None:
        counts = (
            counts.unionByName(state.select("key", "n"))
            .groupBy("key")
            .agg(F.sum("n").alias("n"))
        )
    counts = counts.localCheckpoint()
    cut_rows = (
        counts.orderBy(F.col("n").desc(), F.col("key"))
        .limit(k + 1)
        .collect()
    )
    cut = cut_rows[k]["n"] if len(cut_rows) > k else 0
    return counts.select("key", (F.col("n") - cut).alias("n")).where(
        F.col("n") > 0
    )


def build_hll(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    lg_k: int = 12,
) -> DataFrame:
    """Per-group HLL distinct sketch (Datasketches binary, Spark's
    native `hll_sketch_agg`) → group cols + `hll` — the PERSISTED
    counterpart of `approx_count_distinct`: the binary column survives
    a parquet round-trip, so per-shard/per-day sketches fold into
    running distinct counts without rescanning history (the
    incremental vocabulary tracker; KMV covers intersections, HLL
    covers high-accuracy unions at 2^lg_k registers)."""
    return df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(int(lg_k))).alias("hll")
    )


def merge_hll(
    shards: DataFrame,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Union per-group sketches across shards → group cols + `hll`
    (register-max merge — associative, commutative, idempotent)."""
    return shards.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.hll_union_agg(F.col("hll")).alias("hll")
    )


def hll_estimate(sketches: DataFrame) -> DataFrame:
    """Append `est` (distinct-count estimate) to a sketch frame."""
    return sketches.withColumn(
        "est", F.hll_sketch_estimate(F.col("hll"))
    )


def fold_hll_batch(
    batch: DataFrame,
    state_path: str,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    lg_k: int = 12,
) -> None:
    """foreachBatch body: fold one micro-batch's per-group HLL
    sketches into the persisted state (marker-last `_gen=N` commit,
    idempotent at the value level — register-max union replays are
    no-ops)."""
    spark = batch.sparkSession
    live = current_hll(spark, state_path)
    delta = build_hll(batch, key_col, group_cols, lg_k=lg_k)
    merged = (
        merge_hll(live.unionByName(delta), group_cols)
        if live is not None
        else delta
    )
    _commit_generation(merged, state_path)

"""Entity linking: MinHash-LSH blocking → similarity join → connected
components → canonical surface selection.

The reference has no linking stage (SURVEY §2.3 J-row "Entity linking
joins"); this implements the north-star spec. The base hashes (each
shingle's xxhash64, `_base_hashes`) are computed in Spark on both of
canonicalize's sides. On the distributed side the permutations and band
keys are Spark expressions too; on the small side, a single task whose
input is bounded by `iterate.SMALL_SOLVE`, the permutations, the band
grouping and all set logic run in the task, vectorized in numpy where
they touch every shingle:

 blocking   char-3-gram shingles of the normalized surface form →
            MinHash signatures (64 perms) → LSH bands (16 bands × 4 rows,
            band_keys) → candidate pairs within a (band, key) bucket;
 verify     exact Jaccard on the shingle sets — LSH is only a blocker,
            the verified threshold decides;
 components connected components of the verified similarity graph,
            union-find with min-id roots (`_union_find`);
 canonical  per component: the surface with the highest mention count,
            ties broken by the greatest surface under Spark's struct
            order — deterministic, unlike bare max_by.

canonicalize has two sides behind one gate, and both give the same rows
(both-sides matrix in test_linking). When the band rows (surfaces ×
bands) fit one task it computes shingles and base hashes in one Spark
projection and runs the signatures, bucket grouping, verify, union-find
and the canonical pick in ONE coalesce(1).mapInArrow task
(`iterate.one_task`).
Above the gate the blocking is an equi-join on the band key, verify is
two id-keyed joins plus array_intersect/union, components are
large-star/small-star rounds (a driver-controlled loop on
`iterate.barrier` — Catalyst cannot iterate, SURVEY §4) whose tail
collapses into the same single-task union-find once the contracting
edge set fits (`iterate.fits_one_task`), and the canonical pick is a
struct-max groupBy.

Scale notes:
 * Everything heavy runs on the DISTINCT-surface table, not mentions —
   cardinality drops by orders of magnitude at 10^12 turns.
 * Above the gate MinHash is ONE map-side array expression per surface
   (minhash_sig_expr): each shingle is base-hashed once, then per
   permutation array_min(transform(h → (a_p·h + b_p) mod p)) — zero
   shuffle, all JVM-side. Classic a·x+b universal hashing over a
   Mersenne prime; base hash xxhash64 folded into [0, p) so the int64
   multiply cannot overflow under ANSI mode. Below it the same values
   come from one numpy pass per permutation over all shingles
   (`_minhash_sig_np`) instead of 64 interpreted `transform` lambdas:
   warm canonicalize + a noop write over 7,612 surfaces went
   2.6–3.4 s → 1.4–2.1 s (4 vCPUs, 4 calls each side).
 * Below the gate the whole chain is one task: there every distributed
   stage is scheduler latency on a few thousand rows (canonicalize plus
   a write over 1,138 surfaces: 22 Spark jobs distributed, 5 local).
 * Above it the LSH join is an equi-join on (band_idx, band_hash) —
   AQE-skew-splittable. Identical surfaces can't collide (input is
   distinct), so bucket blowup is bounded by genuinely-similar families.
 * Large-star/small-star rounds are polylogarithmic in n (O(log² n),
   Kiveris et al. 2014) whatever the component diameter; once the
   surviving edge multiset fits one task, one union-find pass in a
   single task replaces the remaining rounds, and `max_iter` bounds
   pathological inputs.
 * One gate, `iterate.fits_one_task`, picks every size-gated side here
   and in graph.py from a count the solver already measured; no caller
   does. plans/iterate.py holds it, the one-task finisher and the round
   barrier every driver loop here and in graph.py uses.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import iterate

_MERSENNE = (1 << 31) - 1  # 2^31 - 1, prime


def _perm_coeffs(n_perms: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_p(x) = (a·x + b) mod p, a ≠ 0."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(n_perms)
    ]


def normalize_surface(col):
    """Normalization for blocking only (canonical output keeps the original
    surface): lowercase, collapse [-_ ] runs to single space, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"[-_\s]+", " "))


def shingle_set(col, n: int = 3):
    """Distinct char n-grams of a normalized surface, padded so short
    surfaces still produce ≥1 shingle."""
    padded = F.concat(F.lit(" "), normalize_surface(col), F.lit(" "))
    idx = F.sequence(F.lit(1), F.greatest(F.length(padded) - n + 1, F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.substring(padded, i, n))
    )


def surface_table(mentions: DataFrame, surface_col: str = "text") -> DataFrame:
    """mentions → distinct surfaces with mention counts, modal type, and a
    stable 64-bit `surface_id` = xxhash64(surface).

    One hash-agg shuffle on the surface string; count and the per-label
    counts fold map-side. All downstream joins/shuffles (banding, pair
    distinct, connected components) are keyed by the 8-byte id, not the
    string — at 10^12 turns the id keys cut shuffle volume by ~5-10×."""
    per_label = mentions.groupBy(
        F.col(surface_col).alias("surface"), F.col("label")
    ).agg(F.count(F.lit(1)).alias("n"))
    return per_label.groupBy("surface").agg(
        F.sum("n").alias("n_mentions"),
        # modal entity type, deterministic tie-break via struct ordering
        F.max(F.struct(F.col("n"), F.col("label"))).getField("label").alias(
            "ent_type"
        ),
    ).withColumn("surface_id", F.xxhash64("surface"))


def _base_hashes(shingles_col, seed: int) -> Column:
    """Each shingle's xxhash64 folded into [0, p): the MinHash input."""
    return F.transform(
        shingles_col,
        lambda s: F.pmod(F.xxhash64(F.lit(seed), s), F.lit(_MERSENNE)),
    )


def minhash_sig_expr(hs_col: str, n_perms: int, seed: int):
    """The n_perms-wide signature array as ONE parsed SQL expression over
    a pre-hashed shingle column `hs_col` (`_base_hashes`: each shingle
    folded to [0, p) so the ANSI int64 multiply cannot overflow): per
    permutation array_min(transform(h → (a·h + b) mod p)). A narrow
    projection with zero shuffle, built with a single JVM round-trip:
    composing per-permutation Columns through py4j cost ~2 s of DRIVER
    wall per query at n_perms=64 — pure expression-construction
    overhead, paid before any task ran."""
    coeffs = _perm_coeffs(n_perms, seed)
    body = ",".join(
        f"array_min(transform({hs_col}, h -> "
        f"pmod(h * {a}L + {b}L, {_MERSENNE}L)))"
        for a, b in coeffs
    )
    return F.expr(f"array({body})")


def _minhash_sig_np(hs: pa.ListArray, n_perms: int, seed: int) -> np.ndarray:
    """minhash_sig_expr's values in numpy over an Arrow list column of
    `_base_hashes` → (rows, n_perms) int64: per permutation the min over
    each row's hashes of (a·h + b) mod p. Exact in int64, because h, a and
    b are all < 2^31. Every row needs at least one hash (shingle_set
    never yields an empty set)."""
    h = np.asarray(hs.flatten(), dtype=np.int64)
    offsets = np.asarray(hs.offsets, dtype=np.int64)
    starts = offsets[:-1] - offsets[0]
    sig = np.empty((len(hs), n_perms), dtype=np.int64)
    for p, (a, b) in enumerate(_perm_coeffs(n_perms, seed)):
        sig[:, p] = np.minimum.reduceat((h * a + b) % _MERSENNE, starts)
    return sig


def minhash_signatures(
    surfaces: DataFrame,
    n_perms: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """surfaces(surface[, surface_id], …) → (surface_id, surface,
    sig:array<bigint>[n_perms]). Pure map stage (see minhash_sig_expr)."""
    if "surface_id" not in surfaces.columns:
        surfaces = surfaces.withColumn("surface_id", F.xxhash64("surface"))
    hashes = _base_hashes(shingle_set(F.col("surface"), shingle_n), seed)
    with_h = surfaces.select("surface_id", "surface", hashes.alias("_hs"))
    return with_h.select(
        "surface_id",
        "surface",
        minhash_sig_expr("_hs", n_perms, seed).alias("sig"),
    )


def lsh_bucket_pairs(
    banded: DataFrame,
    id_col: str = "surface_id",
    bucket_cols: tuple[str, str] = ("band", "band_hash"),
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """(id, bucket…) rows → distinct candidate pairs (id_a < id_b):
    bucket-capped equi self-join on the bucket key.

    The banded table is localCheckpointed once — the bucket-size filter
    and both self-join branches reuse the materialization instead of
    re-running the signature chain. Every shuffled row is int64s.

    `max_bucket_size` drops buckets above the cap before the join — the
    standard guard against the O(bucket²) blowup on low-entropy corpora
    (boilerplate / templated text). A dropped bucket only loses
    candidates that the OTHER bands can still propose; families larger
    than the cap are exactly the ones every band agrees on, so recall
    loss is confined to mega-clusters that downstream connected
    components would merge transitively anyway.

    (An intra-bucket pair-expansion variant — groupBy + nested array
    transforms — was A/B-tested here and lost by ~30% end-to-end: the
    codegen'd join emits pair rows faster than interpreted higher-order
    expressions expand them, and the checkpoint barrier it dropped was
    load-bearing for downstream consumers. Measured, not assumed.)"""
    bcols = list(bucket_cols)
    banded = banded.localCheckpoint()
    if max_bucket_size is not None:
        ok = (
            banded.groupBy(*bcols)
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= max_bucket_size)
            .select(*bcols)
        )
        banded = banded.join(ok, on=bcols)
    a = banded.select(F.col(id_col).alias("id_a"), *bcols)
    b = banded.select(F.col(id_col).alias("id_b"), *bcols)
    return (
        a.join(b, on=bcols, how="inner")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def band_keys(n_bands: int, rows_per_band: int) -> Column:
    """array<bigint>[n_bands] of LSH band keys over a `sig` column: each
    band's signature slice folds through xxhash64 seeded with the band
    index, so one bigint already encodes (band, bucket) collision-safely.
    The ONE band-key formula shared by entity linking, batch and indexed
    MinHash dedup and the streaming near-dup buckets, so every path lands
    a signature in the same bucket by construction."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[
                    F.element_at("sig", b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            )
            for b in range(n_bands)
        ]
    )


def banded_signatures(
    with_sigs: DataFrame,
    n_bands: int,
    rows_per_band: int,
    id_col: str = "surface_id",
) -> DataFrame:
    """(id, sig) → (id, band, band_hash): band_keys exploded to a row per
    band. Pure map — the shared band-key construction for in-batch
    pairing (candidate_pairs) and the persisted-state probe
    (linking_incremental), so the two paths are bit-identical by
    construction."""
    return with_sigs.select(
        id_col,
        F.posexplode(band_keys(n_bands, rows_per_band)).alias(
            "band", "band_hash"
        ),
    )


def candidate_pairs(
    with_sigs: DataFrame,
    n_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """LSH banding: equal band-slice hash in ANY band → candidate pair.

    Returns (id_a, id_b) with id_a < id_b, distinct, via the bucketed
    pair expansion (lsh_bucket_pairs). Every shuffled row is int64s —
    band rows, bucket lists, and the pair distinct move 8-byte ids,
    never surface strings.
    """
    banded = banded_signatures(with_sigs, n_bands, rows_per_band)
    return lsh_bucket_pairs(
        banded, "surface_id", ("band", "band_hash"), max_bucket_size
    )


def verified_pairs(
    pairs: DataFrame,
    surfaces: DataFrame,
    jaccard_threshold: float = 0.6,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard over shingle sets; keeps id pairs ≥ threshold.

    `pairs` is (id_a, id_b); two id-keyed equi-joins fetch the shingle
    arrays (and surface strings for downstream display); the intersect/
    union are array expressions, no extra shuffle beyond the joins.
    Output: (id_a, id_b, surface_a, surface_b, jaccard).
    """
    if "surface_id" not in surfaces.columns:
        surfaces = surfaces.withColumn("surface_id", F.xxhash64("surface"))
    sh = surfaces.select(
        "surface_id",
        "surface",
        shingle_set(F.col("surface"), shingle_n).alias("shingles"),
    )
    j = (
        pairs.join(
            sh.select(
                F.col("surface_id").alias("id_a"),
                F.col("surface").alias("surface_a"),
                F.col("shingles").alias("sh_a"),
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col("surface_id").alias("id_b"),
                F.col("surface").alias("surface_b"),
                F.col("shingles").alias("sh_b"),
            ),
            "id_b",
        )
        # explicit-width repartition before the per-pair array math: the
        # joined rows are few MBs, so AQE's bytes-based coalescing would
        # evaluate the intersect/union expressions on ~1 core
        .repartition(pairs.sparkSession.sparkContext.defaultParallelism)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return j.where(F.col("jaccard") >= jaccard_threshold).select(
        "id_a", "id_b", "surface_a", "surface_b", "jaccard"
    )


def _union_find(nodes, pairs, accept=None) -> dict:
    """Min-id-root union-find → {node: root} over `nodes` plus every end
    of `pairs`. Union always attaches the larger root under the smaller,
    so by induction every root IS the minimum of its set — identical
    semantics to the star-contraction membership. `accept(u, v)` is asked
    only about pairs whose ends are not yet connected (connectivity is all
    a component depends on); a rejected pair merges nothing."""
    parent = {x: x for x in nodes}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru = find(parent.setdefault(u, u))
        rv = find(parent.setdefault(v, v))
        if ru == rv or (accept is not None and not accept(u, v)):
            continue
        if rv < ru:
            ru, rv = rv, ru
        parent[rv] = ru
    return {x: find(x) for x in parent}


def _local_membership(edges: DataFrame, id_col: str) -> DataFrame:
    """(u, v) edge set small enough for ONE task → (id, component) via
    `_union_find`. Ids keep whatever orderable type the edges carry
    (int64 on the linking path)."""
    dt = edges.schema["u"].dataType

    def solve(t: pa.Table) -> dict:
        roots = _union_find((), zip(t["u"].to_pylist(), t["v"].to_pylist()))
        return {id_col: list(roots), "component": list(roots.values())}

    schema = T.StructType(
        [T.StructField(id_col, dt), T.StructField("component", dt)]
    )
    return iterate.one_task(edges, solve, schema)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 25,
    id_col: str = "id",
    edge_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) → (id, component) where component is the MIN id of the
    component. Ids may be any orderable type; int64 keys keep every
    iteration's shuffle at 16 bytes/row.

    Why not plain min-label propagation: that converges in O(diameter)
    rounds, and near-dup similarity graphs over templated text form LONG
    CHAINS (a~b~c~… with consecutive Jaccard above threshold), which made
    propagation pathologically slow at sf0.1. Star operations converge in
    O(log n) rounds regardless of diameter.

    Each round: large-star (every node links its larger neighbors to its
    current minimum neighbor) then small-star (links smaller-or-equal
    neighbors to the minimum), expressed as groupBy-min + re-expansion;
    each round is one `iterate.barrier`, whose count+hash aggregate both
    materializes the round and detects convergence (edge multiset
    stable) without a full self-join.

    Once the (contracting) edge multiset fits one task
    (`iterate.fits_one_task`, checked before every round), the remaining
    rounds collapse into a single union-find pass
    (_local_membership) — star rounds here are pure scheduler overhead
    (~0.85 s/round of driver+stage latency on a 16 k-edge graph,
    measured), and convergence DETECTION alone costs two extra rounds.
    At 10^12-turn scale the star rounds still do the O(log n) heavy
    contraction; the finisher only replaces the tail where the graph is
    already tiny.
    """
    ca, cb = edge_cols
    # work on (u, v) pairs ordered u < v; the "parent" relation converges
    # to star graphs centered at component minima
    e = (
        edges.select(
            F.least(ca, cb).alias("u"), F.greatest(ca, cb).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # materialize once and measure: the count must not evaluate the
    # upstream edge chain a second time
    e, n_edges = iterate.sized(e)

    def _attach(membership: DataFrame) -> DataFrame:
        return (
            vertices.select(id_col)
            .join(membership, id_col, "left")
            .select(
                id_col,
                F.coalesce("component", F.col(id_col)).alias("component"),
            )
        )

    if iterate.fits_one_task(n_edges):
        return _attach(_local_membership(e, id_col))
    # right-size the LOOP state: the iteration repeats ~log(n) rounds, so
    # per-round fixed cost (task scheduling over empty partitions) is paid
    # many times — shrink small edge sets below the session's global
    # shuffle width
    n_partitions = max(4, min(256, n_edges // 50_000 + 1))
    # the edge multiset's signature: stable iff the rounds converged.
    # pmod keeps each term < 2^31 so the int64 sum cannot overflow under
    # ANSI mode for any realistic edge count (< ~4e9 rows)
    sig_cols = (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(_MERSENNE))).alias("h"),
    )

    def _large_star(ed: DataFrame) -> DataFrame:
        """For each node x: connect every strictly-larger neighbor to
        min(N(x) ∪ {x})."""
        nbrs = ed.select("u", "v").union(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        """For each node x: connect all smaller-or-equal neighbors (and x)
        to the minimum of those neighbors."""
        nbrs = ed.select("u", "v").union(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        grouped = (
            nbrs.where(F.col("v") < F.col("u"))
            .groupBy("u")
            .agg(F.collect_set("v").alias("vs"))
            .select("u", F.array_min("vs").alias("m"), F.explode("vs").alias("v"))
        )
        # emit (v, m) for v ≠ m, plus (u, m) exactly once (the v == m slot)
        return (
            grouped.select(
                F.when(F.col("v") == F.col("m"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("a"),
                F.col("m").alias("b"),
            )
            .select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    e, sig = iterate.barrier(e.repartition(n_partitions, "u"), *sig_cols)
    for _ in range(max_iter):
        # ONE job per round: the large-star intermediate stays lazy inside
        # the small-star plan (two shuffles fused), and the signature
        # aggregate both materializes the round and checks convergence
        e, new_sig = iterate.barrier(_small_star(_large_star(e)), *sig_cols)
        if new_sig == sig:
            break
        sig = new_sig
        if iterate.fits_one_task(new_sig["n"]):
            # contraction brought the graph under one task's budget —
            # the remaining O(log n) tail rounds are pure scheduler
            # latency; finish with a single union-find pass instead
            return _attach(_local_membership(e, id_col))

    # converged: every edge now points v → its component minimum u
    membership = e.select(
        F.col("v").alias(id_col), F.col("u").alias("component")
    ).groupBy(id_col).agg(F.min("component").alias("component"))
    return _attach(membership)


def _nulls_lowest(v):
    """Sort key for a nullable string under Spark's struct order: null
    below every string, strings by code point, which is the order of
    their UTF-8 bytes (Spark's binary string order)."""
    return (v is not None, v or "")


def _canonical_local(
    surfaces: DataFrame,
    n_perms: int,
    n_bands: int,
    rows_per_band: int,
    shingle_n: int,
    jaccard_threshold: float,
    seed: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """canonicalize's single-task side. One Spark projection computes each
    surface's shingle set and its base hashes (`_base_hashes`, as on the
    distributed side). One task then computes the MinHash signatures in
    numpy (`_minhash_sig_np`), groups each band's rows by equal signature
    slice (the rows the distributed side's band key puts in one bucket),
    drops buckets above `max_bucket_size`, runs the exact Jaccard >= test
    on each in-bucket pair whose ends are not yet connected, unions with
    `_union_find`, and picks per component the max (n_mentions, surface)
    as canonical, the max (n_mentions, ent_type) as type, and the mention
    sum. The components are those of the passing candidate pairs in any
    pair order, so the bucket order need not match the other side's.
    entity_id is the canonical row's surface_id, which is
    xxhash64(canonical)."""
    cols = ["surface_id", "surface", "n_mentions", "ent_type", "shingles"]
    per_surface = surfaces.select(
        "*", shingle_set(F.col("surface"), shingle_n).alias("shingles")
    ).select(*cols, _base_hashes(F.col("shingles"), seed).alias("_hs"))
    fields = {f.name: f.dataType for f in surfaces.schema.fields}
    schema = T.StructType(
        [
            T.StructField("surface", fields["surface"]),
            # xxhash64 is never null: non-nullable, as on the other side
            T.StructField("entity_id", fields["surface_id"], False),
            T.StructField("canonical", fields["surface"]),
            T.StructField("ent_type", fields["ent_type"]),
            T.StructField("n_mentions", fields["n_mentions"]),
            T.StructField("entity_mentions", fields["n_mentions"]),
        ]
    )

    def solve(t: pa.Table) -> dict:
        ids = t["surface_id"].to_pylist()
        surface = t["surface"].to_pylist()
        n_mentions = t["n_mentions"].to_pylist()
        ent_type = t["ent_type"].to_pylist()
        sets = dict(zip(ids, map(frozenset, t["shingles"].to_pylist())))
        sig = _minhash_sig_np(t["_hs"].combine_chunks(), n_perms, seed)

        def pairs():
            for b in range(n_bands):
                band = sig[:, b * rows_per_band : (b + 1) * rows_per_band]
                order = np.lexsort(band.T)
                run = band[order]
                cut = np.flatnonzero((run[1:] != run[:-1]).any(axis=1)) + 1
                starts, ends = np.r_[0, cut], np.r_[cut, len(run)]
                ok = ends - starts >= 2
                if max_bucket_size is not None:
                    ok &= ends - starts <= max_bucket_size
                for a, b in zip(starts[ok].tolist(), ends[ok].tolist()):
                    members = [ids[i] for i in order[a:b].tolist()]
                    yield from combinations(members, 2)

        def similar(u, v) -> bool:
            a, b = sets[u], sets[v]
            inter = len(a & b)
            return inter / (len(a) + len(b) - inter) >= jaccard_threshold

        roots = _union_find(ids, pairs(), similar)
        members: dict = {}
        for i, x in enumerate(ids):
            members.setdefault(roots[x], []).append(i)
        canon, kind, total = {}, {}, {}
        for r, rows in members.items():
            canon[r] = max(
                rows, key=lambda i: (n_mentions[i], _nulls_lowest(surface[i]))
            )
            kind[r] = max(
                rows, key=lambda i: (n_mentions[i], _nulls_lowest(ent_type[i]))
            )
            total[r] = sum(n_mentions[i] for i in rows)
        comp = [roots[x] for x in ids]
        return {
            "surface": surface,
            "entity_id": [ids[canon[r]] for r in comp],
            "canonical": [surface[canon[r]] for r in comp],
            "ent_type": [ent_type[kind[r]] for r in comp],
            "n_mentions": n_mentions,
            "entity_mentions": [total[r] for r in comp],
        }

    return iterate.one_task(per_surface, solve, schema)


def canonicalize(
    mentions: DataFrame,
    surface_col: str = "text",
    n_perms: int = 64,
    n_bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
    seed: int = 42,
    max_iter: int = 20,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """mentions → canonical-entity map:
    (surface, entity_id, canonical, ent_type, n_mentions, entity_mentions).

    entity_id = xxhash64 of the canonical surface — stable across runs and
    cluster sizes.

    Two sides, one answer. The distinct-surface table is materialized and
    counted; when its band rows (surfaces × n_bands) fit one task, the
    whole chain after the per-surface projection runs
    in one task (`_canonical_local`). Otherwise the distributed chain
    runs: candidate_pairs → verified_pairs → connected_components →
    struct-max canonical join."""
    rows_per_band = max(n_perms // n_bands, 1)
    # surfaces feeds every later stage on both sides — materialize once,
    # in the job that counts it for the gate, instead of recomputing the
    # mention aggregation per branch
    surfaces, n_surfaces = iterate.sized(surface_table(mentions, surface_col))
    if iterate.fits_one_task(n_surfaces * n_bands):
        return _canonical_local(
            surfaces, n_perms, n_bands, rows_per_band, shingle_n,
            jaccard_threshold, seed, max_bucket_size,
        )
    sigs = minhash_signatures(surfaces, n_perms, shingle_n, seed)
    pairs = candidate_pairs(sigs, n_bands, rows_per_band, max_bucket_size)
    verified = verified_pairs(pairs, surfaces, jaccard_threshold, shingle_n)
    comps = connected_components(
        surfaces.select(F.col("surface_id").alias("id")),
        verified.select("id_a", "id_b"),
        max_iter,
    )
    with_stats = comps.withColumnRenamed("id", "surface_id").join(
        surfaces, on="surface_id"
    )
    canon = with_stats.groupBy("component").agg(
        F.max(F.struct(F.col("n_mentions"), F.col("surface")))
        .getField("surface")
        .alias("canonical"),
        F.sum("n_mentions").alias("entity_mentions"),
        F.max(F.struct(F.col("n_mentions"), F.col("ent_type")))
        .getField("ent_type")
        .alias("entity_type"),
    )
    return (
        with_stats.join(canon, on="component")
        .select(
            "surface",
            F.xxhash64("canonical").alias("entity_id"),
            "canonical",
            F.col("entity_type").alias("ent_type"),
            F.col("n_mentions"),
            F.col("entity_mentions"),
        )
    )


def rewrite_triples(triples: DataFrame, canon_map: DataFrame) -> DataFrame:
    """Rewrite triple subj/obj surfaces through the canonical map.

    The map is small relative to triples → broadcast both lookups (two
    broadcast hash joins, zero shuffle of the triple stream).
    """
    m = canon_map.select("surface", "entity_id", "canonical")
    subj_map = m.select(
        F.col("surface").alias("subj"),
        F.col("entity_id").alias("subj_id"),
        F.col("canonical").alias("subj_canonical"),
    )
    obj_map = m.select(
        F.col("surface").alias("obj"),
        F.col("entity_id").alias("obj_id"),
        F.col("canonical").alias("obj_canonical"),
    )
    out = triples.join(F.broadcast(subj_map), on="subj", how="left").join(
        F.broadcast(obj_map), on="obj", how="left"
    )
    # unlinked surfaces (no mention support) keep themselves as canonical
    return out.withColumn(
        "subj_canonical", F.coalesce("subj_canonical", "subj")
    ).withColumn(
        "obj_canonical", F.coalesce("obj_canonical", "obj")
    ).withColumn(
        "subj_id", F.coalesce("subj_id", F.xxhash64("subj"))
    ).withColumn(
        "obj_id", F.coalesce("obj_id", F.xxhash64("obj"))
    )

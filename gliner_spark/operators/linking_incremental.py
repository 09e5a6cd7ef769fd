"""Incremental entity canonicalization against persisted linking state —
the continuously-updating-KG shape of operators/linking.canonicalize.

The reference has no linking stage at all (SURVEY §2.3 J-row); batch
canonicalize implements the north-star spec. At 10^12 turns, though, a
KG is never built once: transcripts arrive in shards, and re-clustering
every surface ever seen per ingest is O(corpus) work for an O(shard)
change. This module persists the linking state and folds each new shard
in with work proportional to the shard plus the components it touches.

 store      the directory `<warehouse>/<store>` under plans/commit.py's
            marker-last protocol, so a new driver finds every committed
            generation where the last one left it. Generation `g{id}/`
            holds three parquet parts:
              surfaces (surface_id, surface, component, n_mentions,
                        canonical, entity_id, entity_type,
                        entity_mentions)  — the entity columns of the
                        surface's component on every row
              labels   (component, surface, label, n)
              bands    (band, band_hash, surface_id)
            and its marker `_meta_g{id}.json`, written last, carries the
            params record (n_perms, n_bands, shingle_n,
            jaccard_threshold, seed). Folds read the params from the
            marker instead of trusting their caller: a mismatched
            n_perms/shingle_n would silently produce wrong candidates.
 probe      the shard's new surfaces are signed map-side (the same pure
            minhash/band expressions as batch — shared code, bit-equal)
            and their band rows broadcast into the state's bands scan,
            so the corpus never reshuffles — only the shard moves.
            Shard-internal pairs come from the same in-batch
            lsh_bucket_pairs as batch canonicalize.
 merge      connected components run on the MINI graph only: new surface
            ids + one anchor node per touched old component (old
            components are already transitively closed, so contracting
            each to its min-id anchor preserves connectivity exactly —
            the standard CC-maintenance argument). A new surface bridging
            two old entities MERGES them, exactly as a batch rerun would.
 canonical  recomputed only for touched components, from combined
            per-(surface, label) counts (state + shard) — so a shard that
            merely re-mentions a known surface can flip its component's
            canonical pick, again matching batch. Untouched surfaces pass
            through as an anti-join against the broadcast touched set,
            zero recompute.

`build_linking_state` is the first fold, into an empty state: the fold
then runs lsh_bucket_pairs → verified_pairs → connected_components over
every surface and surface_table's aggregation, so one code path writes
every generation.

Exactness: with max_bucket_size=None the canonical map is IDENTICAL to
batch canonicalize over corpus ∪ shard (parity-pinned in
test_linking_incremental.py, including an entity-merge shard). Bucket
caps make candidates depend on bucket occupancy, so capped runs can
differ from a capped batch rerun near the cap boundary — same caveat as
every capped LSH path in this repo.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import commit
from .linking import (
    banded_signatures,
    connected_components,
    lsh_bucket_pairs,
    minhash_signatures,
    verified_pairs,
)

_MARKER = "_meta_g{}.json"
_GEN = "g{}"
_PARTS = {
    "surfaces": "surface_id long, surface string, component long,"
    " n_mentions long, canonical string, entity_id long,"
    " entity_type string, entity_mentions long",
    "labels": "component long, surface string, label string, n long",
    "bands": "band int, band_hash long, surface_id long",
}


def committed_generations(spark: SparkSession, store: str) -> list[int]:
    """Generation ids with a COMMITTED marker in the store, ascending."""
    return sorted(commit.committed(commit.store_dir(spark, store), _MARKER))


def _part(spark: SparkSession, gen_dir: str, part: str) -> DataFrame:
    return spark.read.schema(_PARTS[part]).parquet(os.path.join(gen_dir, part))


def _newest(spark: SparkSession, store: str) -> tuple[str, dict]:
    """(directory, params) of the store's newest committed generation."""
    d = commit.store_dir(spark, store)
    gens = commit.committed(d, _MARKER)
    if not gens:
        raise ValueError(f"no committed linking state in {d}")
    g = max(gens)
    return os.path.join(d, _GEN.format(g)), gens[g]


def _canonical_map(spark: SparkSession, gen_dir: str) -> DataFrame:
    return _part(spark, gen_dir, "surfaces").select(
        "surface",
        "entity_id",
        "canonical",
        F.col("entity_type").alias("ent_type"),
        "n_mentions",
        "entity_mentions",
    )


def canonical_map_from_state(spark: SparkSession, store: str) -> DataFrame:
    """The newest committed generation → the batch canonicalize output
    shape (surface, entity_id, canonical, ent_type, n_mentions,
    entity_mentions): one scan and a select."""
    return _canonical_map(spark, _newest(spark, store)[0])


def build_linking_state(
    mentions: DataFrame,
    store: str,
    surface_col: str = "text",
    n_perms: int = 64,
    n_bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
    seed: int = 42,
    max_iter: int = 20,
    max_bucket_size: int | None = 1000,
) -> None:
    """Start the store over: drop every generation it holds, then fold
    `mentions` into an empty state and commit it as generation 0."""
    spark = mentions.sparkSession
    commit.drop_dead(
        commit.store_dir(spark, store), _MARKER, _GEN, lambda g: True
    )
    params = dict(
        n_perms=n_perms,
        n_bands=n_bands,
        shingle_n=shingle_n,
        jaccard_threshold=float(jaccard_threshold),
        seed=seed,
    )
    # limit(0) plans each part as an empty LocalRelation, which the
    # optimizer prunes from every join instead of probing it
    empty = {
        t: spark.createDataFrame([], s).limit(0) for t, s in _PARTS.items()
    }
    _fold(
        mentions, empty, params, store, 0, surface_col, max_iter,
        max_bucket_size,
    )


def canonicalize_increment(
    new_mentions: DataFrame,
    source: str,
    store: str,
    gen: int,
    surface_col: str = "text",
    max_iter: int = 20,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Fold a shard of new mentions into the newest committed generation
    of store `source` and commit the result as generation `gen` of
    `store` (source and store may be the same store). `gen` must not be
    committed in `store`: a markerless leftover of a crashed fold is
    overwritten. Returns the new generation's canonical map (batch
    output schema).

    Work scales with the shard, not the corpus: the corpus side of every
    join is a scan filtered by a broadcast of shard-derived keys (band
    probe, known surfaces, member fetch for touched components,
    untouched pass-through), never a shuffle. Each generation rewrites
    all three parts. See module docstring for the algorithm and its
    batch-parity argument."""
    spark = new_mentions.sparkSession
    src_dir, params = _newest(spark, source)
    state = {t: _part(spark, src_dir, t) for t in _PARTS}
    gen_dir = _fold(
        new_mentions, state, params, store, gen, surface_col, max_iter,
        max_bucket_size,
    )
    return _canonical_map(spark, gen_dir)


def _fold(
    new_mentions: DataFrame,
    state: dict[str, DataFrame],
    params: dict,
    store: str,
    gen: int,
    surface_col: str,
    max_iter: int,
    max_bucket_size: int | None,
) -> str:
    """Fold new_mentions into `state` (the parts of one generation, or
    empty frames) and commit generation `gen` of `store`; returns the
    generation's directory."""
    spark = new_mentions.sparkSession
    n_perms, n_bands = params["n_perms"], params["n_bands"]
    shingle_n, seed = params["shingle_n"], params["seed"]
    threshold = params["jaccard_threshold"]
    rows_per_band = max(n_perms // n_bands, 1)
    state_surf = state["surfaces"]

    shard_labels = new_mentions.groupBy(
        F.col(surface_col).alias("surface"), F.col("label")
    ).agg(F.count(F.lit(1)).alias("n"))
    shard_surf = (
        shard_labels.groupBy("surface")
        .agg(F.sum("n").alias("_n_new"))
        .withColumn("surface_id", F.xxhash64("surface"))
        .localCheckpoint()
    )

    # ---- known / new split. Both joins keep the corpus map-side: the
    # shard (small by construction of incremental ingest) broadcasts
    # into the corpus scan, and the resulting `known` set is
    # shard-bounded, so IT broadcasts into the anti-join.
    known = (
        state_surf.join(
            F.broadcast(shard_surf.select("surface")), "surface", "leftsemi"
        )
        .select("surface", "component")
        .localCheckpoint()
    )
    new_surf = (
        shard_surf.join(
            F.broadcast(known.select("surface")), "surface", "left_anti"
        )
        .select("surface_id", "surface")
        .localCheckpoint()
    )

    # ---- candidate edges for the new surfaces; the shard's band rows
    # broadcast into the state's bands scan
    new_sigs = minhash_signatures(new_surf, n_perms, shingle_n, seed)
    new_bands = banded_signatures(new_sigs, n_bands, rows_per_band)
    nn_pairs = lsh_bucket_pairs(
        new_bands, "surface_id", ("band", "band_hash"), max_bucket_size
    )
    no_cand = (
        state["bands"]
        .join(
            F.broadcast(
                new_bands.select(
                    F.col("surface_id").alias("new_id"), "band", "band_hash"
                )
            ),
            ["band", "band_hash"],
        )
        .select("new_id", F.col("surface_id").alias("old_id"))
        .distinct()
    )
    # candidate old surfaces are shard-bounded → broadcast-filter the
    # corpus scan instead of joining the corpus to anything big
    old_cand_surf = state_surf.join(
        F.broadcast(
            no_cand.select(F.col("old_id").alias("surface_id")).distinct()
        ),
        "surface_id",
    ).localCheckpoint()

    # ---- exact-Jaccard verify (same verifier as batch)
    nn_ver = verified_pairs(nn_pairs, new_surf, threshold, shingle_n)
    both_surf = new_surf.unionByName(
        old_cand_surf.select("surface_id", "surface")
    )
    no_ver = verified_pairs(
        no_cand.select(
            F.col("new_id").alias("id_a"), F.col("old_id").alias("id_b")
        ),
        both_surf,
        threshold,
        shingle_n,
    )

    # ---- mini graph: new surfaces + one anchor per touched old
    # component (old components are transitively closed, so contracting
    # each to its anchor preserves connectivity exactly)
    no_edges = (
        no_ver.select("id_a", "id_b")
        .join(
            old_cand_surf.select(
                F.col("surface_id").alias("id_b"), "component"
            ),
            "id_b",
        )
        .select("id_a", F.col("component").alias("id_b"))
        .distinct()
    )
    anchors = no_edges.select(F.col("id_b").alias("id")).distinct()
    nodes = (
        new_surf.select(F.col("surface_id").alias("id"))
        .unionByName(anchors)
        .distinct()
    )
    edges = nn_ver.select("id_a", "id_b").unionByName(no_edges)
    mini = connected_components(nodes, edges, max_iter).localCheckpoint()

    # ---- touched old components: structurally linked ones plus every
    # component whose mention counts the shard changed (known surfaces) —
    # a count bump alone can flip the canonical pick, as in batch
    touched = F.broadcast(
        anchors.select(F.col("id").alias("component"))
        .unionByName(known.select("component"))
        .distinct()
        .localCheckpoint()
    )

    # final component key per member of the recompute scope
    remap = mini.join(anchors, "id").select(
        F.col("id").alias("component"), F.col("component").alias("final_comp")
    )
    old_final = (
        state_surf.join(touched, "component")
        .join(F.broadcast(remap), "component", "left")
        .withColumn("final_comp", F.coalesce("final_comp", F.col("component")))
        .select("surface_id", "final_comp")
    )
    new_final = mini.join(F.broadcast(anchors), "id", "left_anti").select(
        F.col("id").alias("surface_id"), F.col("component").alias("final_comp")
    )
    assign = old_final.unionByName(new_final)

    # ---- combined per-surface stats over the recompute scope only
    comb = (
        state["labels"]
        .join(touched, "component")
        .select("surface", "label", "n")
        .unionByName(shard_labels)
        .groupBy("surface", "label")
        .agg(F.sum("n").alias("n"))
        .withColumn("surface_id", F.xxhash64("surface"))
        .join(assign, "surface_id")
        .localCheckpoint()
    )
    touched_stats = comb.groupBy("surface_id", "surface", "final_comp").agg(
        F.sum("n").alias("n_mentions"),
        F.max(F.struct(F.col("n"), F.col("label")))
        .getField("label")
        .alias("ent_type"),
    )
    canon = touched_stats.groupBy("final_comp").agg(
        F.max(F.struct(F.col("n_mentions"), F.col("surface")))
        .getField("surface")
        .alias("canonical"),
        F.sum("n_mentions").alias("entity_mentions"),
        F.max(F.struct(F.col("n_mentions"), F.col("ent_type")))
        .getField("ent_type")
        .alias("entity_type"),
    )

    # ---- the new generation: untouched rows pass through, touched rows
    # are recomputed, bands append; the marker goes last
    d = commit.store_dir(spark, store)
    gen_dir = os.path.join(d, _GEN.format(gen))
    parts = {
        "surfaces": touched_stats.join(canon, "final_comp").select(
            "surface_id",
            "surface",
            F.col("final_comp").alias("component"),
            "n_mentions",
            "canonical",
            F.xxhash64("canonical").alias("entity_id"),
            "entity_type",
            "entity_mentions",
        ),
        "labels": comb.select(
            F.col("final_comp").alias("component"), "surface", "label", "n"
        ),
    }
    parts = {
        t: state[t].join(touched, "component", "left_anti").unionByName(rows)
        for t, rows in parts.items()
    }
    parts["bands"] = state["bands"].unionByName(new_bands)
    for t, rows in parts.items():
        rows.write.mode("overwrite").parquet(os.path.join(gen_dir, t))
    commit.write_text(d, _MARKER.format(gen), json.dumps(params))
    return gen_dir

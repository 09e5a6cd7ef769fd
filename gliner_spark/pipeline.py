"""End-to-end KG-construction pipeline (the north-star dataflow).

The seven stages form a DAG, and run_pipeline declares its real edges:

  transcripts ──► entities ──► triples_cooccur   [bucketed equi-join]
       │              └──────► canon_map         [MinHash-LSH + components]
       └────────► triples_re                     [two-pass RE, narrow, fused]
  triples_re, canon_map ──► triples_canonical ──► edges
  canon_map, triples_canonical ──► nodes

Each stage starts on its own driver thread once the stages it reads have
committed (`StageRunner.submit`), so independent stages overlap: RE runs
beside entity extraction, co-occurrence beside linking, nodes beside
edges. The critical path is entities → canon_map → triples_canonical →
nodes. `triples_re` stays fused (it scores its own entity spans in the
same pass over the transcripts) and reads no persisted `entities`:
reading them would put RE behind entity extraction on the critical path.

Every stage writes a lineage row and per-file metrics, and a rerun
resumes. Fingerprints chain along the same edges (triples_re's also on
entities', whose input, config and entity types it shares), so flipping
e.g. the relation list reruns only the RE stage and everything
downstream of it, while entities and the canonical map are reused from
their persisted outputs. run_pipeline returns or raises only after every
stage it started has settled, and leaves no stage thread running. On
failure it raises the error of the first failed stage in PipelineResult
field order, after every stage that does not read the failed one has
run to its end.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig, DEFAULT
from .operators.cooccur import induce_cooccurrence
from .operators.graph import build_edges, build_nodes
from .operators.linking import canonicalize, rewrite_triples
from .operators.ner import extract_entities
from .operators.relations import extract_triples
from .plans.lineage import StageRunner, fingerprint


@dataclass
class PipelineResult:
    entities: DataFrame
    triples: DataFrame
    cooccur: DataFrame
    canon_map: DataFrame
    canonical_triples: DataFrame
    nodes: DataFrame
    edges: DataFrame
    runner: StageRunner = field(repr=False, default=None)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    entity_types: list[str],
    relations: list[str],
    cfg: PipelineConfig | None = None,
    input_token: str = "unversioned-input",
) -> PipelineResult:
    """Run (or resume) the full pipeline, materializing every stage under
    out_dir. `input_token` identifies the input snapshot (path + version on
    a real lakehouse; any stable string here) — it roots the fingerprint
    chain, so a new input reruns everything."""
    cfg = cfg or DEFAULT
    runner = StageRunner(spark, out_dir)

    fp_ent = fingerprint("entities", input_token, cfg, entity_types)
    fp_tri = fingerprint("triples_re", fp_ent, relations)
    fp_co = fingerprint("triples_cooccur", fp_ent, cfg.turn_window)
    fp_canon = fingerprint(
        "canon_map",
        fp_ent,
        cfg.minhash_perms,
        cfg.lsh_bands,
        cfg.shingle_size,
        cfg.jaccard_threshold,
        cfg.link_max_tokens,
    )
    fp_ct = fingerprint("triples_canonical", fp_tri, fp_canon)
    fp_nodes = fingerprint("nodes", fp_canon, fp_ct)
    fp_edges = fingerprint("edges", fp_ct)

    def link(entities: DataFrame) -> DataFrame:
        # link NAME-like mentions only (≤ link_max_tokens tokens): longer
        # span surfaces keep themselves as canonical via rewrite_triples'
        # coalesce
        linkable = entities.where(
            F.col("tok_end") - F.col("tok_start") < cfg.link_max_tokens
        )
        return canonicalize(
            linkable,
            n_perms=cfg.minhash_perms,
            n_bands=cfg.lsh_bands,
            shingle_n=cfg.shingle_size,
            jaccard_threshold=cfg.jaccard_threshold,
        )

    submit = runner.submit
    entities = submit(
        "entities", fp_ent,
        lambda: extract_entities(transcripts, entity_types, cfg),
    )
    triples = submit(
        "triples_re", fp_tri,
        lambda: extract_triples(transcripts, relations, entity_types, cfg),
    )
    cooccur = submit(
        "triples_cooccur", fp_co,
        lambda ents: induce_cooccurrence(ents, cfg.turn_window), entities,
    )
    canon_map = submit("canon_map", fp_canon, link, entities)
    canonical_triples = submit(
        "triples_canonical", fp_ct, rewrite_triples, triples, canon_map
    )
    nodes = submit("nodes", fp_nodes, build_nodes, canon_map, canonical_triples)
    edges = submit("edges", fp_edges, build_edges, canonical_triples)

    frames = runner.join(
        [entities, triples, cooccur, canon_map, canonical_triples, nodes, edges]
    )
    return PipelineResult(*frames, runner=runner)

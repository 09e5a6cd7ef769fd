"""gliner_spark — a from-scratch PySpark-native knowledge-graph construction
engine with the query/data-processing capabilities of the GLiNER reference
(span-based zero-shot NER → relation induction → entity linking →
canonicalization → graph materialization), re-expressed Spark-first.

Layout:
    kernel/     pure numpy/python reference-semantics oracle (no Spark)
    functions/  column-level helpers built on pyspark.sql.functions
    operators/  DataFrame→DataFrame operators (NER, relations, linking, dedup…)
    sources/    synthetic transcripts source and its schema
    plans/      session builder + staged, lineage-tracked pipeline driver
    streaming/  Structured Streaming variants of the extraction stage
"""

__version__ = "0.1.0"


def __getattr__(name):
    """Lazy top-level API: `from gliner_spark import extract_entities` —
    deferred so importing the package never pays Spark import time in
    kernel-only contexts (the pytest oracle path)."""
    _API = {
        "extract_entities": ("gliner_spark.operators.ner", "extract_entities"),
        "extract_entities_token": (
            "gliner_spark.operators.ner", "extract_entities_token"),
        "extract_triples": (
            "gliner_spark.operators.relations", "extract_triples"),
        "induce_cooccurrence": (
            "gliner_spark.operators.cooccur", "induce_cooccurrence"),
        "canonicalize": ("gliner_spark.operators.linking", "canonicalize"),
        "rewrite_triples": (
            "gliner_spark.operators.linking", "rewrite_triples"),
        "build_nodes": ("gliner_spark.operators.graph", "build_nodes"),
        "build_edges": ("gliner_spark.operators.graph", "build_edges"),
        "run_pipeline": ("gliner_spark.pipeline", "run_pipeline"),
        "build_session": ("gliner_spark.plans.session", "build_session"),
        "synth_transcripts": (
            "gliner_spark.sources.transcripts", "synth_transcripts"),
        "PipelineConfig": ("gliner_spark.config", "PipelineConfig"),
    }
    if name in _API:
        import importlib

        mod, attr = _API[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'gliner_spark' has no attribute {name!r}")

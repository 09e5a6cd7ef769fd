"""Surface reach guard (static, no Spark).

Every top-level def in `gliner_spark/`, public or private, must be
reached from a product root — the pipelines, `tools/`, `bench.py`,
`perfbench/`, the gate's `__spark_entry__.py` — or from module-level
code, directly or through other package code. The only exceptions
are the defs in `KEEP`, each with its reason. A def reached only from
`tests/` is either given a product caller or deleted with its tests.

Reach is by NAME: a def counts as reached when its name appears (as a
name, an attribute, an imported name, or a string in module-level code
such as `__all__`) in reached code. Two defs that share a name are
reached together, so the guard can miss dead code but never reports
live code as dead.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "gliner_spark"

PRODUCT_ROOTS = [
    PKG / "pipeline.py",
    PKG / "curation_pipeline.py",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
]

# (module, def) -> why it stays without a product caller
KEEP = {
    ("api.py", "GLiNERSpark"): "reference-parity user API",
    ("api.py", "GLiNERRelationExtractor"): "reference-parity user API",
    ("api.py", "GLiNERClassifier"): "reference-parity user API",
    ("api.py", "GLiNERQuestionAnswerer"): "reference-parity user API",
    ("api.py", "GLiNERSummarizer"): "reference-parity user API",
    ("api.py", "GLiNEROpenExtractor"): "reference-parity user API",
    ("operators/multitask.py", "answer"): "reference-parity user API",
    ("operators/multitask.py", "open_extract"): "reference-parity user API",
    ("kernel/multitask.py", "OracleMultitask"): "multitask parity oracle",
    ("kernel/decode.py", "has_overlapping"): "reference decode oracle",
    ("kernel/decode.py", "has_overlapping_nested"): "reference decode oracle",
    ("kernel/decode.py", "greedy_search_reference"): "reference decode oracle",
    ("kernel/decode.py", "token_decode_reference"): "reference decode oracle",
    ("kernel/metrics.py", "compute_prf_micro"): "reference metric oracle",
    ("kernel/tokenizer.py", "char_span_to_word_span"): "SURVEY §2 F8",
    ("kernel/tokenizer.py", "register_splitter"): "SURVEY §2 F8",
    ("operators/evaluation.py", "evaluate_ner"): "SURVEY §2 evaluation",
    ("operators/evaluation.py", "evaluate_ner_per_type"): "SURVEY §2 evaluation",
    ("operators/evaluation.py", "evaluate_triples"): "SURVEY §2 evaluation",
    ("operators/evaluation.py", "expected_calibration_error"): (
        "SURVEY §2 evaluation"
    ),
    ("operators/generation.py", "sample_negative_types"): "SURVEY §2 U3",
    ("operators/generation.py", "attach_negative_types"): "SURVEY §2 U3",
    ("operators/linking_incremental.py", "canonical_map_from_state"): (
        "streaming linking; its product caller, tools/stream_kg_job.py, is"
        " ROADMAP direction 3's open item"
    ),
    ("streaming/linking.py", "current_store"): (
        "streaming linking; its product caller, tools/stream_kg_job.py, is"
        " ROADMAP direction 3's open item"
    ),
    ("streaming/linking.py", "fold_mention_batch"): (
        "streaming linking; its product caller, tools/stream_kg_job.py, is"
        " ROADMAP direction 3's open item"
    ),
    ("streaming/linking.py", "stream_canonicalize"): (
        "streaming linking; its product caller, tools/stream_kg_job.py, is"
        " ROADMAP direction 3's open item"
    ),
    ("operators/multimodal.py", "synth_wav_sample"): (
        "test data for the live multimodal operators"
    ),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node, strings=False):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif (
            strings
            and isinstance(n, ast.Constant)
            and isinstance(n.value, str)
        ):
            out.add(n.value)
    return out


def _package():
    """({name: [(module, def node)]}, names module-level code uses).
    Imports are not uses: they only bind a name."""
    defs, used = {}, set()
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, _DEFS):
                defs.setdefault(st.name, []).append((mod, st))
                # decorators and defaults run at import
                used |= _names(ast.Module(st.decorator_list, []))
                if not isinstance(st, ast.ClassDef):
                    used |= _names(ast.Module(st.args.defaults, []))
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                used |= _names(st, strings=True)
    return defs, used


def _reached(defs, roots):
    seen, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _mod, node in defs.get(name, []):
            todo.extend(_names(node) - seen)
    return seen


def test_every_top_level_def_has_a_product_caller():
    defs, used = _package()
    roots = set(used)
    for path in PRODUCT_ROOTS:
        roots |= _names(ast.parse(path.read_text()))
    # kept defs, and what they use, are live; so are dunder hooks
    # (a module's __getattr__) that Python calls by protocol
    roots |= {name for _mod, name in KEEP}
    roots |= {n for n in defs if n.startswith("__") and n.endswith("__")}
    seen = _reached(defs, roots)
    unreached = sorted(
        f"{mod}::{name}"
        for name, where in defs.items()
        if name not in seen
        for mod, _node in where
    )
    assert unreached == [], (
        "top-level defs no product root reaches (give each a caller, delete "
        "it with its tests, or add it to KEEP with a reason): "
        + ", ".join(unreached)
    )


def test_keep_list_names_existing_defs():
    defs, _used = _package()
    have = {(mod, name) for name, where in defs.items() for mod, _n in where}
    assert sorted(set(KEEP) - have) == []

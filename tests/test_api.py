"""Drop-in API façade (gliner_spark/api.py) vs the reference call shapes
(gliner/model.py predict_entities/batch_predict_entities/run;
gliner/multitask/*.py pipeline classes). List inputs run the kernel
oracle; DataFrame inputs run the distributed operators — both share the
kernel, so the two paths must agree exactly."""

from gliner_spark.api import (
    GLiNERClassifier,
    GLiNEROpenExtractor,
    GLiNERQuestionAnswerer,
    GLiNERRelationExtractor,
    GLiNERSpark,
    GLiNERSummarizer,
)

TEXTS = [
    "alice manages the ingest service at acme analytics.",
    "bob reviewed the spark upgrade for the platform team.",
    "the billing job failed after the schema migration.",
]
LABELS = ["person", "organization", "service"]


def test_from_pretrained_and_predict_entities_shapes():
    model = GLiNERSpark.from_pretrained("any/model-id-is-ignored")
    ents = model.predict_entities(TEXTS[0], LABELS, threshold=0.3)
    assert isinstance(ents, list)
    for e in ents:
        assert set(e) == {"start", "end", "text", "label", "score"}
        assert e["text"] == TEXTS[0][e["start"]:e["end"]]
        assert e["label"] in LABELS
        assert e["score"] > 0.3


def test_batch_predict_forwards_to_run():
    model = GLiNERSpark()
    a = model.batch_predict_entities(TEXTS, LABELS, threshold=0.3)
    b = model.run(TEXTS, LABELS, threshold=0.3)
    assert a == b
    assert len(a) == len(TEXTS)
    assert model.predict_entities(TEXTS[0], LABELS, threshold=0.3) == a[0]


def test_dataframe_path_matches_list_path(spark):
    model = GLiNERSpark()
    rows = [(f"c{i}", 0, "user", t, None, None) for i, t in enumerate(TEXTS)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    got = {
        (r.conv_id, r.start, r.end, r.label)
        for r in model.predict_entities_df(df, LABELS, threshold=0.3).collect()
    }
    expected = {
        (f"c{i}", e["start"], e["end"], e["label"])
        for i, ents in enumerate(model.run(TEXTS, LABELS, threshold=0.3))
        for e in ents
    }
    assert got == expected and len(expected) > 0


def test_relation_extractor_shape():
    rex = GLiNERRelationExtractor()
    out = rex(TEXTS, relations=["works for", "uses"], entity_types=LABELS,
              ner_threshold=0.3, rel_threshold=0.3)
    assert len(out) == len(TEXTS)
    for triples in out:
        for t in triples:
            assert set(t) == {
                "source", "relation", "target", "score", "start", "end",
            }
            assert t["relation"] in {"works for", "uses"}
    # single-string input is wrapped like the reference base pipeline
    single = rex(TEXTS[0], relations=["uses"], entity_types=LABELS,
                 ner_threshold=0.3, rel_threshold=0.3)
    assert len(single) == 1


def test_multitask_pipeline_classes():
    cls = GLiNERClassifier()
    got = cls(TEXTS, classes=["infrastructure", "billing", "people"])
    assert len(got) == len(TEXTS)
    assert all(set(g) == {"label", "score"} for g in got)

    qa = GLiNERQuestionAnswerer()
    answers = qa(TEXTS[0], "who manages the service?", threshold=0.2)
    assert isinstance(answers, list)

    summ = GLiNERSummarizer()
    s = summ(TEXTS, threshold=0.2)
    assert len(s) == len(TEXTS) and all(isinstance(x, str) for x in s)

    ox = GLiNEROpenExtractor()
    spans = ox(TEXTS[0], labels=["match"], threshold=0.2)
    assert len(spans) == 1


def test_batch_predict_with_embeds_matches_run():
    """Reference signature (model.py:476): embeddings and label strings
    travel separately; pre-encoded inference must equal run()."""
    model = GLiNERSpark()
    mat = model.encode_labels(LABELS)
    assert mat.shape == (len(LABELS), model.cfg.scorer.dim)
    a = model.batch_predict_with_embeds(TEXTS, mat, LABELS, threshold=0.3)
    b = model.run(TEXTS, LABELS, threshold=0.3)
    assert a == b
    one = model.predict_with_embeds(TEXTS[0], mat, LABELS, threshold=0.3)
    assert one == b[0]


def test_evaluate_reference_shape_and_self_consistency():
    """model.py:533-602 evaluate(): GLiNER-format examples in,
    ('P: x%\\tR: y%\\tF1: z%\\n', f1) out. Gold = the model's own
    predictions → perfect score; disjoint gold → zero."""
    from gliner_spark.kernel.decode import decode_row
    from gliner_spark.kernel.tokenizer import prep_tokens

    model = GLiNERSpark()
    scorer = model._oracle.scorer
    mat = scorer.encode_labels(LABELS)
    test_data = []
    for t in TEXTS:
        # gold = the kernel's own token-level decode on the same
        # tokenization evaluate() will score — exact self-consistency
        toks, _s, _e = prep_tokens(t, model.cfg.max_len, model.cfg.tokenizer)
        ids, _ = scorer.ids_matrix([toks])
        probs = scorer.score_batch(ids, mat, model.cfg.max_width)[0]
        s, e, c, _sc = decode_row(
            probs, len(toks), 0.3, flat_ner=True, multi_label=False
        )
        ner = [
            [int(si), int(ei), LABELS[int(ci)]] for si, ei, ci in zip(s, e, c)
        ]
        test_data.append({"tokenized_text": toks, "ner": ner})
    out, f1 = model.evaluate(
        test_data, flat_ner=True, threshold=0.3, entity_types=LABELS
    )
    assert out.startswith("P: ") and "\tR: " in out and out.endswith("%\n")
    assert f1 == 1.0
    # disjoint gold types → no matches
    bad = [
        {"tokenized_text": d["tokenized_text"],
         "ner": [[0, 0, "nonexistent-type"]]}
        for d in test_data
    ]
    _, f1_bad = model.evaluate(
        bad, flat_ner=True, threshold=0.3, entity_types=LABELS
    )
    assert f1_bad == 0.0


def test_evaluate_batch_label_union_default():
    """With entity_types=None the label set is the per-batch union of
    gold types (DataCollator semantics)."""
    model = GLiNERSpark()
    data = [
        {"tokenized_text": TEXTS[0].split(), "ner": [[0, 0, "person"]]},
        {"tokenized_text": TEXTS[1].split(), "ner": [[0, 0, "person"]]},
    ]
    out, f1 = model.evaluate(data, flat_ner=True, threshold=0.3)
    assert isinstance(out, str) and 0.0 <= f1 <= 1.0


def test_set_labels_trie_and_generate_labels():
    """model.py:293-345 — trie from tokenized labels (EOS appended);
    generation walks only trie-legal prefixes. List path must equal the
    DataFrame operator's vocabulary semantics (same kernel)."""
    model = GLiNERSpark()
    vocab = ["person", "person name", "organization unit", "tool"]
    trie = model.set_labels_trie(vocab)
    # trie allows exactly the first words of the vocabulary at the root
    root_allowed = trie.get([])
    assert len(root_allowed) == 3  # person / organization / tool word-ids
    gen = model.generate_labels(TEXTS, labels=vocab)
    assert len(gen) == len(TEXTS)
    for g in gen:
        assert g in vocab or g == ""  # complete trie walks only
    # single-string input → one-element list
    one = model.generate_labels(TEXTS[0])
    assert one == [gen[0]]


def test_save_pretrained_round_trip(tmp_path):
    """model.py:709-766 — save_pretrained persists config + labels trie
    + label embeddings; from_pretrained(dir) restores a model with
    IDENTICAL predictions and generation, and a drifted artifact
    (embeddings not matching the saved config's scorer) loads loudly."""
    import json
    import os

    import numpy as np
    import pytest

    from gliner_spark.config import PipelineConfig

    cfg = PipelineConfig(threshold=0.35, span_mode="marker")
    model = GLiNERSpark(cfg=cfg)
    vocab = ["person", "organization unit", "tool"]
    model.set_labels_trie(vocab)
    art = str(tmp_path / "artifact")
    model.save_pretrained(art)

    loaded = GLiNERSpark.from_pretrained(art)
    assert loaded.cfg == cfg
    labels = ["person", "location"]
    for text in TEXTS:
        assert loaded.predict_entities(
            text, labels, threshold=0.35
        ) == model.predict_entities(text, labels, threshold=0.35)
    assert loaded.generate_labels(TEXTS) == model.generate_labels(TEXTS)

    # a non-directory id still returns a default model (reference
    # call-site compatibility: checkpoint names are accepted+ignored)
    assert GLiNERSpark.from_pretrained("some/hub-id").cfg == PipelineConfig()

    # an explicit cfg= override replaces the artifact's config and must
    # NOT trip the embedding drift check (the saved matrix belongs to
    # the saved config, not the override)
    over = PipelineConfig(span_mode="mlp")
    m2 = GLiNERSpark.from_pretrained(art, cfg=over)
    assert m2.cfg == over and hasattr(m2, "_labels_trie")

    # tampered weights: re-save with a different scorer config but keep
    # the old embedding matrix -> integrity check must raise
    emb = np.load(f"{art}/label_embeddings.npy")
    with open(f"{art}/gliner_config.json") as f:
        raw = json.load(f)
    raw["scorer"]["seed"] = 7
    with open(f"{art}/gliner_config.json", "w") as f:
        json.dump(raw, f)
    np.save(f"{art}/label_embeddings.npy", emb)
    with pytest.raises(ValueError, match="drifted"):
        GLiNERSpark.from_pretrained(art)

    # a model WITHOUT labels saved over a labelled artifact must not
    # inherit its labels: both label files go, and the reload has none
    GLiNERSpark(cfg=cfg).save_pretrained(art)
    assert not os.path.exists(f"{art}/labels.json")
    assert not os.path.exists(f"{art}/label_embeddings.npy")
    bare = GLiNERSpark.from_pretrained(art)
    assert bare.cfg == cfg and not hasattr(bare, "_labels_trie")
    # ...and labelling it again restores the full labelled artifact
    model.save_pretrained(art)
    again = GLiNERSpark.from_pretrained(art)
    assert again.generate_labels(TEXTS) == model.generate_labels(TEXTS)

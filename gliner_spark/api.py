"""Drop-in API façade: the reference's public surface, Spark-backed.

A user of the reference drives it through `GLiNER.from_pretrained(...)` →
`predict_entities / batch_predict_entities / run` (gliner/model.py:236-357)
and the multitask pipeline classes (gliner/multitask/*.py). This module
exposes the SAME method names and return shapes so existing call sites
port by changing the import:

    from gliner_spark.api import GLiNERSpark as GLiNER
    model = GLiNER.from_pretrained()
    ents = model.predict_entities("…", ["person", "location"])

Two execution paths per method, chosen by input type:
 * list[str] → the pure-Python kernel oracle on the driver (identical
   semantics to the Spark operators by construction — shared kernel);
 * DataFrame → the distributed operators (`*_df` variants), for corpus-
   scale inputs.

No weights are loaded: the deterministic hashed bi-encoder stands in for
the reference's DeBERTa checkpoint (SURVEY §7.0), so `from_pretrained`
accepts and ignores a model id — semantics (tokenization, span grid,
thresholding, greedy decode, prompt formats, two-pass RE) are the
reference's; the scores themselves are this engine's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .config import PipelineConfig, DEFAULT
from .kernel.multitask import OracleMultitask
from .kernel.oracle import OraclePipeline


class GLiNERSpark:
    """Reference `GLiNER` model-object parity (gliner/model.py)."""

    def __init__(self, cfg: PipelineConfig | None = None):
        self.cfg = cfg or DEFAULT
        self._oracle = OraclePipeline(self.cfg)

    @classmethod
    def from_pretrained(cls, model_id: str | None = None, **kwargs):
        """Reference loader signature (model.py `from_pretrained`): a
        `model_id` naming a directory previously written by
        save_pretrained is LOADED from disk (config + labels trie +
        label-embedding integrity check); any other id is accepted for
        call-site compatibility and ignored (the deterministic scorer
        replaces checkpoint weights)."""
        import os

        cfg = kwargs.pop("cfg", None)
        if (
            isinstance(model_id, str)
            and os.path.isdir(model_id)
            and os.path.exists(
                os.path.join(model_id, "gliner_config.json")
            )
        ):
            return cls._load_directory(model_id, cfg_override=cfg)
        return cls(cfg=cfg)

    # ------------------------------------------------- artifact round-trip
    def save_pretrained(self, save_directory: str, **_kwargs) -> None:
        """model.py:709-766 — persist the model artifact: the full
        PipelineConfig as `gliner_config.json` (the analogue of the
        reference's GLiNERConfig.to_json_file), the labels from
        set_labels_trie (when present) as `labels.json`, and the
        deterministic scorer's (C, dim) label-embedding matrix for
        those labels as `label_embeddings.npy` — the artifact's
        'weights'. from_pretrained(dir) re-encodes the labels under the
        loaded config and verifies the matrix matches, so an artifact
        whose config and embeddings drifted apart fails LOUDLY at load
        instead of silently predicting differently. Without a labels
        trie, both label files are REMOVED from the directory, so a
        re-save never leaves a previous artifact's labels behind."""
        import json
        import os

        from dataclasses import asdict

        os.makedirs(save_directory, exist_ok=True)
        with open(
            os.path.join(save_directory, "gliner_config.json"), "w"
        ) as f:
            json.dump(asdict(self.cfg), f, indent=1, sort_keys=True)
        labels_path = os.path.join(save_directory, "labels.json")
        emb_path = os.path.join(save_directory, "label_embeddings.npy")
        if not hasattr(self, "_labels_trie"):
            for stale in (labels_path, emb_path):
                if os.path.exists(stale):
                    os.remove(stale)
            return
        import numpy as np

        labels = self._labels_trie[3]
        with open(labels_path, "w") as f:
            json.dump(labels, f)
        np.save(emb_path, self.encode_labels(labels))

    @classmethod
    def _load_directory(cls, path: str, cfg_override=None):
        import json
        import os

        from .config import PipelineConfig, ScorerConfig

        # an explicit cfg= override replaces the artifact's config, so
        # the saved label embeddings are EXPECTED to differ — run the
        # drift integrity check only when loading the saved config
        check_embeddings = cfg_override is None
        if cfg_override is None:
            with open(os.path.join(path, "gliner_config.json")) as f:
                raw = json.load(f)
            scorer = ScorerConfig(**raw.pop("scorer"))
            cfg_override = PipelineConfig(**raw, scorer=scorer)
        model = cls(cfg=cfg_override)
        labels_path = os.path.join(path, "labels.json")
        if os.path.exists(labels_path):
            with open(labels_path) as f:
                labels = json.load(f)
            model.set_labels_trie(labels)
            emb_path = os.path.join(path, "label_embeddings.npy")
            if check_embeddings and os.path.exists(emb_path):
                import numpy as np

                saved = np.load(emb_path)
                fresh = model.encode_labels(labels)
                if saved.shape != fresh.shape or not np.allclose(
                    saved, fresh, atol=1e-9
                ):
                    raise ValueError(
                        f"label embeddings in {emb_path} do not match "
                        "the loaded config's scorer — artifact config "
                        "and weights have drifted apart"
                    )
        return model

    # ------------------------------------------------ inference (list path)
    def run(
        self,
        texts: list[str],
        labels: list[str],
        flat_ner: bool = True,
        threshold: float = 0.5,
        multi_label: bool = False,
        **_kwargs,
    ) -> list[list[dict]]:
        """model.py:357 — batch inference; returns per-text entity dicts
        {start, end, text, label, score} with char offsets."""
        return self._oracle.run(
            texts, labels, threshold=threshold, flat_ner=flat_ner,
            multi_label=multi_label,
        )

    def predict_entities(
        self,
        text: str,
        labels: list[str],
        flat_ner: bool = True,
        threshold: float = 0.5,
        multi_label: bool = False,
        **kwargs,
    ) -> list[dict]:
        """model.py:236 — single-text convenience over run()."""
        return self.run(
            [text], labels, flat_ner=flat_ner, threshold=threshold,
            multi_label=multi_label, **kwargs,
        )[0]

    def batch_predict_entities(
        self,
        texts: list[str],
        labels: list[str],
        flat_ner: bool = True,
        threshold: float = 0.5,
        multi_label: bool = False,
        **kwargs,
    ) -> list[list[dict]]:
        """model.py:261 — deprecated alias forwarding to run(), exactly
        like the reference."""
        return self.run(
            texts, labels, flat_ner=flat_ner, threshold=threshold,
            multi_label=multi_label, **kwargs,
        )

    def encode_labels(self, labels: list[str], batch_size: int = 8):
        """model.py:604-630 — pre-encode a label list once (the
        bi-encoder trick this engine broadcasts Spark-side). Returns the
        (C, dim) embedding matrix, reference-shaped: embeddings only,
        row i ↔ labels[i]; pass the SAME label list back to
        batch_predict_with_embeds. `batch_size` accepted for call-site
        compatibility (no batching needed here)."""
        return self._oracle.scorer.encode_labels(list(labels))

    def predict_with_embeds(
        self,
        text: str,
        labels_embeddings,
        labels: list[str],
        flat_ner: bool = True,
        threshold: float = 0.5,
        multi_label: bool = False,
        **kwargs,
    ) -> list[dict]:
        """model.py:450-474 — single-text inference against PRE-ENCODED
        label embeddings; forwards to batch_predict_with_embeds exactly
        like the reference."""
        return self.batch_predict_with_embeds(
            [text],
            labels_embeddings,
            labels,
            flat_ner=flat_ner,
            threshold=threshold,
            multi_label=multi_label,
            **kwargs,
        )[0]

    def batch_predict_with_embeds(
        self,
        texts: list[str],
        labels_embeddings,
        labels: list[str],
        flat_ner: bool = True,
        threshold: float = 0.5,
        multi_label: bool = False,
        **_kwargs,
    ) -> list[list[dict]]:
        """model.py:476-531 — batch inference against PRE-ENCODED label
        embeddings (no per-call label re-encoding); reference signature:
        embeddings and label strings travel separately, row i of the
        matrix names labels[i]."""
        import numpy as np

        mat = np.asarray(labels_embeddings, dtype=np.float32)
        labels = list(labels)
        return [
            self._oracle._run_one(
                t, labels, mat, threshold, flat_ner, multi_label
            )
            for t in texts
        ]

    # ------------------------------------------------------------ evaluation
    def evaluate(
        self,
        test_data: list[dict],
        flat_ner: bool = False,
        multi_label: bool = False,
        threshold: float = 0.5,
        batch_size: int = 12,
        entity_types: list[str] | None = None,
    ) -> tuple[str, float]:
        """model.py:533-602 — evaluate on GLiNER-format examples
        ({"tokenized_text": [...], "ner": [[start_tok, end_tok_incl,
        label], ...]}), returning the reference's exact
        ("P: x%\\tR: y%\\tF1: z%\\n", f1) shape (evaluator.py:152-156:
        micro P/R/F1 over typed exact token-span matches).

        Label-set semantics mirror the DataCollator: with entity_types
        given, every example scores against that list; otherwise each
        batch of `batch_size` examples scores against the order-preserved
        union of its OWN gold types (collator.py builds classes per
        batch). Scoring runs the shared kernel directly on the gold
        tokenization (the eval data is pre-tokenized — re-tokenizing
        would shift indices)."""
        from .kernel.decode import decode_row
        from .kernel.metrics import compute_prf_micro

        scorer = self._oracle.scorer
        max_w = self.cfg.max_width
        y_true: list[list[tuple]] = []
        y_pred: list[list[tuple]] = []
        for lo in range(0, len(test_data), batch_size):
            chunk = test_data[lo : lo + batch_size]
            if entity_types is None:
                batch_labels = list(
                    dict.fromkeys(
                        str(lab)
                        for d in chunk
                        for _s, _e, lab in d.get("ner", [])
                    )
                )
            else:
                batch_labels = list(dict.fromkeys(entity_types))
            label_mat = scorer.encode_labels(batch_labels)
            for d in chunk:
                tokens = list(d["tokenized_text"])[: self.cfg.max_len]
                gold = [
                    (int(s), int(e), str(lab))
                    for s, e, lab in d.get("ner", [])
                    if int(e) < len(tokens)
                ]
                y_true.append(gold)
                if not tokens or not batch_labels:
                    y_pred.append([])
                    continue
                ids, _ = scorer.ids_matrix([tokens])
                probs = scorer.score_batch(ids, label_mat, max_w)[0]
                s, e, c, _sc = decode_row(
                    probs,
                    len(tokens),
                    threshold,
                    flat_ner=flat_ner,
                    multi_label=multi_label,
                )
                y_pred.append(
                    [
                        (int(si), int(ei), batch_labels[int(ci)])
                        for si, ei, ci in zip(s, e, c)
                    ]
                )
        m = compute_prf_micro(y_true, y_pred)
        out = (
            f"P: {m['precision']:.2%}\tR: {m['recall']:.2%}\t"
            f"F1: {m['f_score']:.2%}\n"
        )
        return out, m["f_score"]

    # ------------------------------------------------- constrained generation
    def set_labels_trie(self, labels: list[str]):
        """model.py:293-310 — tokenize each label, append EOS, build the
        LabelsTrie (reference python_labels_trie.py contract). The
        reference raises NotImplementedError without a decoder tokenizer;
        this engine's deterministic word-id vocabulary stands in for it
        (same role: label string → int sequence), so a real trie is
        returned. The trie is also retained on the model for
        generate_labels."""
        from .kernel.labels_trie import LabelsTrie
        from .operators.generation import _label_vocab

        labels = list(dict.fromkeys(labels))
        word_id, id_word, seqs = _label_vocab(labels)
        eos = len(id_word)
        trie = LabelsTrie([seq + [eos] for seq in seqs])
        self._labels_trie = (trie, id_word, eos, labels)
        return trie

    def generate_labels(
        self,
        texts: str | list[str] | DataFrame,
        labels: list[str] | None = None,
        max_new_tokens: int = 15,
        **_gen_kwargs,
    ):
        """model.py:312-345 — generate textual class labels under the
        trie constraint (greedy, EOS when the trie allows nothing —
        decoder.py:212-219 rule). The reference decodes from transformer
        decoder embeddings; this engine scores trie-legal vocabulary
        words against the deterministic text embedding (same constraint
        machinery, stand-in scorer — SURVEY §7.0).

        list[str] → per-text generated label strings on the driver;
        DataFrame → the distributed operator
        (operators/generation.generate_labels). `labels` seeds the trie
        vocabulary; omitted, the trie from set_labels_trie is reused."""
        if labels is not None:
            self.set_labels_trie(labels)
        if not hasattr(self, "_labels_trie"):
            raise ValueError(
                "no labels trie — call set_labels_trie(labels) first or "
                "pass labels="
            )
        trie, id_word, eos, vocab_labels = self._labels_trie
        if isinstance(texts, DataFrame):
            from .operators.generation import generate_labels as gen_df

            return gen_df(
                texts, vocab_labels, cfg=self.cfg,
                max_new_tokens=max_new_tokens,
            )
        import numpy as np

        from .kernel.labels_trie import constrained_greedy_generate
        from .kernel.tokenizer import prep_tokens

        if isinstance(texts, str):
            texts = [texts]
        scorer = self._oracle.scorer
        word_vecs = scorer.emb[scorer.token_ids(id_word)]
        word_vecs = word_vecs / (
            np.linalg.norm(word_vecs, axis=1, keepdims=True) + 1e-8
        )
        out = []
        for text in texts:
            toks, _s, _e = prep_tokens(text, self.cfg.max_len, self.cfg.tokenizer)
            if not toks:
                out.append("")
                continue
            tvec = scorer.emb[scorer.token_ids(toks)].mean(axis=0)
            tvec = tvec / (np.linalg.norm(tvec) + 1e-8)
            sims = word_vecs @ tvec

            def step_scores(_seq):
                return {i: float(sims[i]) for i in range(len(id_word))}

            gen = constrained_greedy_generate(
                step_scores, trie, eos, max_new_tokens
            )
            out.append(" ".join(id_word[i] for i in gen))
        return out

    # ------------------------------------------- inference (DataFrame path)
    def predict_entities_df(
        self,
        transcripts: DataFrame,
        labels: list[str],
        threshold: float | None = None,
    ) -> DataFrame:
        """Corpus-scale equivalent: transcripts DataFrame → entities
        DataFrame (operators/ner.extract_entities — one narrow mapInArrow
        stage)."""
        from .operators.ner import extract_entities

        return extract_entities(
            transcripts, labels, cfg=self.cfg, threshold=threshold
        )

    def extract_triples_df(
        self,
        transcripts: DataFrame,
        relations: list[str],
        entity_types: list[str],
    ) -> DataFrame:
        """Corpus-scale two-pass relation extraction (operators/relations)."""
        from .operators.relations import extract_triples

        return extract_triples(
            transcripts, relations, entity_types, cfg=self.cfg
        )


class GLiNERRelationExtractor:
    """gliner/multitask/relation_extraction.py parity: __call__(texts,
    relations, entity_types) → per-text triple dicts {source, relation,
    target, score, start, end}."""

    def __init__(self, model: GLiNERSpark | None = None):
        self.model = model or GLiNERSpark()

    def __call__(
        self,
        texts: str | list[str],
        relations: list[str] | None = None,
        entity_types: list[str] | None = None,
        ner_threshold: float = 0.5,
        rel_threshold: float = 0.5,
        **_kwargs,
    ) -> list[list[dict]]:
        if isinstance(texts, str):
            texts = [texts]
        return self.model._oracle.extract_relations(
            texts,
            relations or [],
            entity_types or [],
            ner_threshold=ner_threshold,
            rel_threshold=rel_threshold,
        )


class GLiNERClassifier:
    """gliner/multitask/classification.py parity."""

    def __init__(self, model: GLiNERSpark | None = None):
        self.model = model or GLiNERSpark()
        self._mt = OracleMultitask(self.model._oracle)

    def __call__(
        self, texts: str | list[str], classes: list[str],
        threshold: float = 0.5, **_kwargs,
    ) -> list[dict]:
        if isinstance(texts, str):
            texts = [texts]
        return self._mt.classify(texts, classes, threshold=threshold)


class GLiNERQuestionAnswerer:
    """gliner/multitask/question_answering.py parity."""

    def __init__(self, model: GLiNERSpark | None = None):
        self.model = model or GLiNERSpark()
        self._mt = OracleMultitask(self.model._oracle)

    def __call__(
        self, texts: str | list[str], questions: str | list[str],
        threshold: float = 0.5, **_kwargs,
    ) -> list[list[dict]]:
        if isinstance(texts, str):
            texts = [texts]
        if isinstance(questions, str):
            return self._mt.answer(texts, questions, threshold=threshold)
        return [
            self._mt.answer([t], q, threshold=threshold)[0]
            for t, q in zip(texts, questions)
        ]


class GLiNERSummarizer:
    """gliner/multitask/summarization.py parity."""

    def __init__(self, model: GLiNERSpark | None = None):
        self.model = model or GLiNERSpark()
        self._mt = OracleMultitask(self.model._oracle)

    def __call__(
        self, texts: str | list[str], threshold: float = 0.25, **_kwargs,
    ) -> list[str]:
        if isinstance(texts, str):
            texts = [texts]
        return self._mt.summarize(texts, threshold=threshold)


class GLiNEROpenExtractor:
    """gliner/multitask/open_extraction.py parity."""

    def __init__(self, model: GLiNERSpark | None = None):
        self.model = model or GLiNERSpark()
        self._mt = OracleMultitask(self.model._oracle)

    def __call__(
        self, texts: str | list[str], labels: list[str] | None = None,
        threshold: float = 0.5, **_kwargs,
    ) -> list[list[dict]]:
        if isinstance(texts, str):
            texts = [texts]
        return self._mt.open_extract(
            texts, labels or ["match"], threshold=threshold
        )

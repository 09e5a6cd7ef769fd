"""The benchmark workloads. Each one generates its inputs from the seed
with the repository's own synthetic sources, hands the program only those
DataFrames, times the user-visible job, and checks its outputs.

  kg_batch        cold run_pipeline (7 persisted stages), then a rerun on
                  the same out dir with one extra relation (StageRunner
                  resume: entities, co-occurrence and linking read back);
                  its traced run also drives the streaming layers
  curation_batch  cold run_curation_pipeline over synth_corpus, then a
                  rerun with a new packing length (only `packed` reruns)

End-to-end metrics, the same four names on every workload:
  setup_s           median of N_SETUPS session (re)starts + input
                    generation/caching + warm-up
  throughput_per_s  turns (kg) or docs (curation) per second of the cold job
  update_latency_s  wall of the rerun
  peak_rss_mb       peak summed PSS of driver, JVM and Python workers
"""

from __future__ import annotations

import os
import time
import uuid

from harness import Bench, OperationFailed, Outcome, median, timing_summary
from layers import EVENT_FIELDS, EVENT_LAYERS, event_metrics, fold_event_log, kernel_layer

ENTITY_TYPES = ["person", "organization", "location", "service", "tool"]
RELATIONS = ["works for", "located in", "uses"]
EXTRA_RELATION = "manages"
N_SETUPS = 3
SAMPLE_TURNS = 300  # oracle-parity / kernel sample size (hash-sampled)
PARITY = 0.95  # P/R gate of tests/test_relations_parity.py

pc = time.perf_counter


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _hash_pick(seed: int, modulus: int):
    from pyspark.sql import functions as F

    return (
        F.pmod(F.xxhash64(F.lit(seed), "conv_id", "turn_idx"), F.lit(modulus))
        == 0
    )


def _warm_extract(transcripts) -> None:
    """Spawn the Python workers and build their scorer tables on every
    partition, so the first timed job does not pay for it."""
    from pyspark.sql import functions as F

    from gliner_spark.operators.relations import extract_triples

    few = transcripts.where(
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(16)) == 0
    )
    _noop_write(extract_triples(few, RELATIONS, ENTITY_TYPES))


def _materialize(b: Bench, layer: str, make, path: str, **write):
    """Time one layer call written to parquet the way StageRunner persists
    a stage → (wall_s, read-back DataFrame, rows)."""

    def go():
        w = make().write.mode("overwrite")
        if write.get("partition_by"):
            w = w.partitionBy(*write["partition_by"])
        w.parquet(path)
        return b.spark.read.parquet(path)

    wall, df = b.timed(layer, go)
    return wall, df, df.count()


def _persisted(df):
    df = df.persist()
    return df, df.count()


def _lineage(out_dir: str, spark) -> list[tuple[str, int, float]]:
    """(stage, n_rows, wall_s) of every lineage row, in append order; the
    rows a run added are the tail past the previous length."""
    from gliner_spark.plans.lineage import StageRunner

    rows = StageRunner(spark, out_dir).lineage().collect()
    return [(r.stage, r.n_rows, r.wall_s)
            for r in sorted(rows, key=lambda r: r.completed_at)]


def _compare_triples(got: list[tuple], want: list[tuple]) -> tuple[bool, dict]:
    """The repository's extraction gate: set precision and recall of the
    triples (scores excluded) both at least PARITY. Scores are float32
    sums whose last bits depend on batch composition, so a near-threshold
    span can flip; exact agreement is reported alongside."""
    from gliner_spark.kernel.metrics import triple_prf

    prf = triple_prf([g[:-1] for g in got], [w[:-1] for w in want])
    ok = prf["precision"] >= PARITY and prf["recall"] >= PARITY
    return ok, {
        "got": len(got), "want": len(want),
        "precision": prf["precision"], "recall": prf["recall"],
        "exact": sorted(g[:-1] for g in got) == sorted(w[:-1] for w in want),
    }


def transcript_properties(transcripts, texts: list[str]) -> dict:
    """Input properties the system's behaviour depends on: turns,
    conversation-length buckets (the generator's 2-8 / 9-24 / 25-96 mix)
    and mean tokens per turn over the driver-side sample."""
    from pyspark.sql import functions as F

    from gliner_spark.config import DEFAULT as cfg
    from gliner_spark.kernel.tokenizer import prep_tokens

    per_conv = transcripts.groupBy("conv_id").count()
    row = per_conv.agg(
        F.count(F.lit(1)).alias("convs"),
        F.sum("count").alias("turns"),
        F.sum(F.when(F.col("count") <= 8, 1).otherwise(0)).alias("short"),
        F.sum(F.when(F.col("count").between(9, 24), 1).otherwise(0)).alias("medium"),
        F.sum(F.when(F.col("count") >= 25, 1).otherwise(0)).alias("long"),
    ).first()
    toks = [len(prep_tokens(t, cfg.max_len, cfg.tokenizer)[0]) for t in texts]
    return {
        "turns": row["turns"],
        "convs": row["convs"],
        "conv_len_buckets": {
            "2-8": row["short"], "9-24": row["medium"], "25-96": row["long"],
        },
        "mean_tokens_per_turn": sum(toks) / max(len(toks), 1),
        "sample_turns": len(texts),
    }


def exact_turns(spark, n_turns: int, seed: int):
    """synth_transcripts cut to exactly n_turns (whole conversations in
    conv order, the last one truncated), so every seed feeds the job the
    same amount of work; partitioning stays the generator's own."""
    from pyspark.sql import functions as F

    from gliner_spark.sources.transcripts import synth_transcripts

    n_convs = max(1, n_turns // 6)
    while True:
        tr = synth_transcripts(spark, n_convs, seed=seed).withColumn(
            "_cid", F.substring("conv_id", 6, 8).cast("long"))
        sizes = sorted(
            (r["_cid"], r["count"]) for r in tr.groupBy("_cid").count().collect()
        )
        if sum(c for _i, c in sizes) >= n_turns:
            break
        n_convs *= 2
    left = n_turns
    for cid, count in sizes:
        if count >= left:
            break
        left -= count
    keep = (F.col("_cid") < cid) | ((F.col("_cid") == cid) & (F.col("turn_idx") < left))
    return tr.where(keep).drop("_cid")


class Workload:
    """One workload: setup, timed measurement, checks, metrics."""

    name = ""

    # --- per-workload pieces
    def inputs(self, b: Bench) -> dict:
        raise NotImplementedError

    def warm_up(self, b: Bench, inp: dict) -> None:
        raise NotImplementedError

    def measure(self, b: Bench, inp: dict, work: str, s: dict) -> None:
        """Fill `s` with samples until b.seconds have passed. s["units"]
        holds the wall of each repeated unit of work."""
        raise NotImplementedError

    def check(self, b: Bench, inp: dict, s: dict) -> None:
        raise NotImplementedError

    def end_to_end(self, inp: dict, s: dict) -> tuple[float, float]:
        """→ (throughput_per_s, update_latency_s)."""
        raise NotImplementedError

    def properties(self, b: Bench, inp: dict, s: dict) -> dict:
        raise NotImplementedError

    def named(self, inp: dict, s: dict) -> dict:
        """The workload's metrics under their per-workload names."""
        raise NotImplementedError

    def layers(self, b: Bench, inp: dict, s: dict, work: str) -> dict:
        """Traced pass only: call each layer's public functions."""
        raise NotImplementedError

    def jit_warm_up(self, b: Bench, work: str) -> None:
        """Traced run only: the job once on a small input, untimed."""
        raise NotImplementedError

    # --- shared driver
    def setup(self, b: Bench, eventlog: bool = False):
        t0 = pc()
        session_s = b.start_session(eventlog)
        inp = self.inputs(b)
        self.warm_up(b, inp)
        return pc() - t0, session_s, inp

    def _measure(self, b: Bench, inp: dict, work: str) -> dict:
        s: dict = {"units": []}
        try:
            self.measure(b, inp, work, s)
        except OperationFailed as exc:
            s["error"] = str(exc)
        if not s["units"]:
            raise RuntimeError(f"{self.name}: no completed measurement")
        return s

    def run(self, b: Bench) -> Outcome:
        if b.trace:
            return self._run_traced(b)
        setups, sessions = [], []
        for i in range(N_SETUPS):
            if i:
                b.stop_session()
            wall, session_s, inp = self.setup(b)
            setups.append(wall)
            sessions.append(session_s)
        s = self._measure(b, inp, b.path("measure"))
        rss = b.rss.stop()
        if "error" not in s:
            self.check(b, inp, s)
        throughput, update = self.end_to_end(inp, s)
        metrics = {
            "setup_s": median(setups),
            "throughput_per_s": throughput,
            "update_latency_s": update,
            "peak_rss_mb": rss,
        }
        named = {
            "setup_s": (median(setups), "s"),
            "peak_rss_mb": (rss, "MB"),
            **self.named(inp, s),
            "failed_frac": (b.failed / max(b.attempted, 1), "ratio"),
        }
        details = {
            "workload": self.name,
            "seed": b.seed,
            "seconds": b.seconds,
            "trace": 0,
            "setup_s_samples": setups,
            "session_start_s_samples": sessions,
            "input": self.properties(b, inp, s),
            "samples": {k: {**timing_summary(v), "values": v}
                        for k, v in s.items() if isinstance(v, list)
                        and v and all(isinstance(x, float) for x in v)},
            "checks": b.checks,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        }
        if "error" in s:
            details["error"] = s["error"]
        summary = [f"{self.name} seed={b.seed}"] + [
            f"  {k:<22} {v:>14.4f} {u}" for k, (v, u) in named.items()
        ]
        return Outcome(metrics, details, summary)

    def _run_traced(self, b: Bench) -> Outcome:
        """A small warm-up job, then the unit untraced, then traced. The
        fresh JVM's first job compiles every plan and runs far slower, so
        tracing overhead compares the two passes after the warm-up."""
        _wall, session_s, inp = self.setup(b)
        self.jit_warm_up(b, b.path("jit"))
        untraced = self._measure(b, inp, b.path("untraced"))
        b.stop_session()
        b.spans.clear()
        _wall, _session_s, inp = self.setup(b, eventlog=True)
        b.tracing = True
        traced = self._measure(b, inp, b.path("traced"))
        layer = self.layers(b, inp, traced, b.path("layers"))
        if "error" not in traced:
            self.check(b, inp, traced)
        props = self.properties(b, inp, traced)
        b.tracing = False
        spans = [(n, round(t1 - t0, 4)) for n, t0, t1 in b.spans]
        log_dir = b.eventlog_dir
        b.stop_session()  # flushes the event log
        groups = dict(b.stream_groups)
        folded = fold_event_log(
            log_dir, lambda g: groups.get(g, g if g in EVENT_LAYERS else None)
        )
        metrics = {name: 0.0 for name in PER_LAYER_NAMES}
        metrics.update(event_metrics(folded))
        metrics.update(layer)
        metrics["session.start_s"] = session_s
        metrics["trace.overhead_s"] = median(traced["units"]) - median(untraced["units"])
        details = {
            "workload": self.name,
            "seed": b.seed,
            "seconds": b.seconds,
            "trace": 1,
            "untraced_unit_s": untraced["units"],
            "traced_unit_s": traced["units"],
            "input": props,
            "checks": b.checks,
            "spans": spans,
        }
        summary = [f"{self.name} seed={b.seed} (traced)"] + [
            f"  {k:<36} {v:>14.4f}" for k, v in metrics.items() if v
        ]
        return Outcome(metrics, details, summary)


# ------------------------------------------------------------ kg_batch
class KgBatch(Workload):
    name = "kg_batch"
    n_turns = 2000
    stream_waves = 2  # the first warms the stream up

    def inputs(self, b):
        tr = exact_turns(b.spark, self.n_turns, b.seed).cache()
        return {"transcripts": tr, "turns": tr.count()}

    def warm_up(self, b, inp):
        _warm_extract(inp["transcripts"])

    def measure(self, b, inp, work, s):
        from gliner_spark.pipeline import run_pipeline

        tr, spark = inp["transcripts"], b.spark
        token = f"synth:{b.seed}:{self.n_turns}"
        for k in ("cold", "rerun", "overhead", "readback"):
            s[k] = []
        s["counts"], s["rerun_stages"], s["out_dirs"] = [], [], []
        deadline = pc() + b.seconds
        while True:
            out = os.path.join(work, f"kg{len(s['cold'])}")
            cold, _ = b.timed("lineage", lambda: run_pipeline(
                spark, tr, out, ENTITY_TYPES, RELATIONS, input_token=token))
            rows = _lineage(out, spark)
            s["cold"].append(cold)
            s["counts"].append({st: n for st, n, _w in rows})
            s["out_dirs"].append(out)
            s["overhead"].append(cold - sum(w for _st, _n, w in rows))
            # one more relation: the RE suffix reruns, entities,
            # co-occurrence and the canonical map are read back
            rerun, _ = b.timed("lineage", lambda: run_pipeline(
                spark, tr, out, ENTITY_TYPES, RELATIONS + [EXTRA_RELATION],
                input_token=token))
            seen, rows = len(rows), _lineage(out, spark)
            s["rerun"].append(rerun)
            s["rerun_stages"].append(sorted(st for st, _n, _w in rows[seen:]))
            s["readback"].append(rerun - sum(w for _st, _n, w in rows[seen:]))
            s["units"].append(cold + rerun)
            if pc() >= deadline:
                break

    def jit_warm_up(self, b, work):
        from gliner_spark.pipeline import run_pipeline

        small = exact_turns(b.spark, 200, b.seed + 1)
        run_pipeline(b.spark, small, work, ENTITY_TYPES, RELATIONS, input_token="warm")

    def _sample(self, b, inp):
        if "sample" not in inp:
            m = max(1, inp["turns"] // SAMPLE_TURNS)
            rows = (
                inp["transcripts"].where(_hash_pick(b.seed, m))
                .select("conv_id", "turn_idx", "text").collect()
            )
            inp["sample"] = (m, rows)
        return inp["sample"]

    def check(self, b, inp, s):
        from gliner_spark.kernel.oracle import OraclePipeline

        m, rows = self._sample(b, inp)
        texts = [r.text for r in rows]
        want = []
        # triples_re on disk is the rerun's, with the extra relation
        oracle = OraclePipeline().extract_relations(
            texts, RELATIONS + [EXTRA_RELATION], ENTITY_TYPES)
        for r, triples in zip(rows, oracle):
            want += [
                (r.conv_id, r.turn_idx, t["source"], t["relation"], t["target"],
                 t["start"], t["end"], t["score"])
                for t in triples
            ]
        got = [
            (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj, t.start, t.end, t.score)
            for t in b.spark.read.parquet(os.path.join(s["out_dirs"][0], "triples_re"))
            .where(_hash_pick(b.seed, m)).collect()
        ]
        ok, detail = _compare_triples(got, want)
        b.check("oracle_parity_triples_re", ok, turns=len(rows), **detail)
        b.check(
            "stage_counts_repeat",
            all(c == s["counts"][0] for c in s["counts"]),
            iterations=len(s["counts"]), counts=s["counts"][0],
        )
        expect = ["edges", "nodes", "triples_canonical", "triples_re"]
        b.check(
            "rerun_resumes_unchanged_stages",
            all(st == expect for st in s["rerun_stages"]),
            recomputed=s["rerun_stages"][0],
        )

    def end_to_end(self, inp, s):
        return inp["turns"] / median(s["cold"]), median(s["rerun"])

    def named(self, inp, s):
        return {
            "kg_turns_per_s": (inp["turns"] / median(s["cold"]), "1/s"),
            "kg_rerun_s": (median(s["rerun"]), "s"),
        }

    def properties(self, b, inp, s):
        _m, rows = self._sample(b, inp)
        props = transcript_properties(inp["transcripts"], [r.text for r in rows])
        counts = s["counts"][0]
        props["entities_per_turn"] = counts.get("entities", 0) / max(inp["turns"], 1)
        props["stage_rows"] = counts
        props["iterations"] = len(s["cold"])
        return props

    def layers(self, b, inp, s, work):
        from pyspark.sql import functions as F

        from gliner_spark.config import DEFAULT as cfg
        from gliner_spark.operators.cooccur import induce_cooccurrence
        from gliner_spark.operators.graph import build_edges, build_nodes
        from gliner_spark.operators.linking import (
            canonicalize, candidate_pairs, connected_components,
            minhash_signatures, rewrite_triples, surface_table, verified_pairs,
        )
        from gliner_spark.operators.ner import extract_entities
        from gliner_spark.operators.relations import extract_triples

        tr, p = inp["transcripts"], lambda n: os.path.join(work, n)
        out: dict[str, float] = {}
        rows: dict[str, int] = {}
        out["ner.entities_s"], ents, rows["entities"] = _materialize(
            b, "ner", lambda: extract_entities(tr, ENTITY_TYPES, cfg), p("entities"))
        out["relations.triples_re_s"], triples, rows["triples_re"] = _materialize(
            b, "relations",
            lambda: extract_triples(tr, RELATIONS, ENTITY_TYPES, cfg), p("triples_re"))
        labelled = ents.select("conv_id", "turn_idx").distinct().count()
        out["cooccur.triples_cooccur_s"], _co, rows["triples_cooccur"] = _materialize(
            b, "cooccur", lambda: induce_cooccurrence(ents, cfg.turn_window),
            p("triples_cooccur"))

        linkable = ents.where(F.col("tok_end") - F.col("tok_start") < cfg.link_max_tokens)
        rows_per_band = max(cfg.minhash_perms // cfg.lsh_bands, 1)

        def sigs():
            surfaces = surface_table(linkable).localCheckpoint()
            return surfaces, _persisted(
                minhash_signatures(surfaces, cfg.minhash_perms, cfg.shingle_size, 42))[0]

        out["linking.signatures_s"], (surfaces, sig) = b.timed("linking", sigs)
        out["linking.candidate_pairs_s"], (pairs, n_pairs) = b.timed(
            "linking", lambda: _persisted(
                candidate_pairs(sig, cfg.lsh_bands, rows_per_band, 1000)))
        out["linking.verified_pairs_s"], (verified, n_verified) = b.timed(
            "linking", lambda: _persisted(verified_pairs(
                pairs, surfaces, cfg.jaccard_threshold, cfg.shingle_size)))
        out["linking.components_s"], _ = b.timed(
            "linking", lambda: _persisted(connected_components(
                surfaces.select(F.col("surface_id").alias("id")),
                verified.select("id_a", "id_b"), 20)))
        out["linking.candidate_pairs"] = float(n_pairs)
        out["linking.verified_ratio"] = n_verified / n_pairs if n_pairs else 0.0
        out["linking.canon_map_s"], canon, rows["canon_map"] = _materialize(
            b, "linking", lambda: canonicalize(
                linkable, n_perms=cfg.minhash_perms, n_bands=cfg.lsh_bands,
                shingle_n=cfg.shingle_size, jaccard_threshold=cfg.jaccard_threshold),
            p("canon_map"))
        out["linking.triples_canonical_s"], ct, rows["triples_canonical"] = _materialize(
            b, "linking", lambda: rewrite_triples(triples, canon), p("triples_canonical"))
        out["graph.nodes_s"], _n, rows["nodes"] = _materialize(
            b, "graph", lambda: build_nodes(canon, ct), p("nodes"))
        out["graph.edges_s"], _e, rows["edges"] = _materialize(
            b, "graph", lambda: build_edges(ct), p("edges"))
        for df in (sig, pairs, verified):
            df.unpersist()
        out.update(self._stream(b, inp, triples, work))

        out["ner.rows"] = float(rows["entities"])
        out["relations.rows"] = float(rows["triples_re"])
        out["relations.labelled_turn_ratio"] = labelled / inp["turns"]
        out["cooccur.rows"] = float(rows["triples_cooccur"])
        out["lineage.overhead_s"] = median(s["overhead"])
        out["lineage.readback_s"] = median(s["readback"])
        _m, sample = self._sample(b, inp)
        out.update(kernel_layer([r.text for r in sample], ENTITY_TYPES, RELATIONS))
        b.check("layer_rows_equal_stage_rows", rows == s["counts"][0],
                layers=rows, stages=s["counts"][0])
        return out


    def _stream(self, b, inp, batch_triples, work):
        """streaming.ingest + streaming.graphrank: the same transcripts land
        in waves; each wave runs stream_to_kg, then stream_pagerank over
        the new triples (the composition of tools/stream_kg_job.py). The
        first wave warms the stream up and is not timed. Checks that the
        union of the waves' triples passes the parity gate against the
        batch extract_triples output, and that every wave committed one
        triple batch and one rank generation."""
        from pyspark.sql import functions as F

        from gliner_spark.streaming.graphrank import (
            committed_generations, current_ranks, stream_pagerank,
        )
        from gliner_spark.streaming.ingest import read_transcript_stream, stream_to_kg

        spark, tr = b.spark, inp["transcripts"]
        landing, out = os.path.join(work, "landing"), os.path.join(work, "stream")
        # a rank-table prefix no concurrent or earlier run can share
        prefix = f"perfbench_{os.getpid()}_{uuid.uuid4().hex[:10]}_ranks"
        n_waves = self.stream_waves
        wave_of = F.pmod(F.xxhash64("conv_id"), F.lit(n_waves))

        def finish(q, layer):
            b.stream_groups[str(q.runId)] = layer  # its jobs' job group
            if not q.awaitTermination(170):
                q.stop()
                raise RuntimeError(f"{layer} wave did not finish")

        def ingest():
            finish(stream_to_kg(
                read_transcript_stream(spark, landing), out,
                os.path.join(work, "ckpt_triples"), ENTITY_TYPES, RELATIONS,
            ), "ingest")

        def fold():
            path = f"{out}/triples_stream"
            edges = (
                spark.readStream.schema(spark.read.parquet(path).schema)
                .parquet(path)
                .select(F.xxhash64("subj").alias("src"), F.xxhash64("obj").alias("dst"))
            )
            finish(stream_pagerank(edges, prefix, os.path.join(work, "ckpt_ranks")),
                   "graphrank")

        t_ing, t_fold, turns = [], [], []
        for w in range(n_waves):
            wave = tr.where(wave_of == w)
            n = wave.count()
            wave.write.mode("append").parquet(landing)
            ti, _ = b.timed("ingest", ingest)
            tf, _ = b.timed("graphrank", fold)
            if w:
                t_ing.append(ti)
                t_fold.append(tf)
                turns.append(n)

        cols = ["conv_id", "turn_idx", "subj", "pred", "obj", "start", "end", "score"]
        streamed = spark.read.parquet(f"{out}/triples_stream")
        ok, detail = _compare_triples(
            [tuple(r) for r in streamed.select(*cols).collect()],
            [tuple(r) for r in batch_triples.select(*cols).collect()],
        )
        b.check("stream_union_equals_batch", ok, **detail)
        batches = streamed.select("batch_id").distinct().count()
        gens = committed_generations(spark, prefix)
        ranks = current_ranks(spark, prefix)
        n_ranked = ranks.count() if ranks is not None else 0
        b.check(
            "ranks_committed_every_wave",
            batches == n_waves and gens[-1:] == [n_waves - 1] and n_ranked > 0,
            waves=n_waves, triple_batches=batches, newest_generation=gens[-1:],
            ranked_vertices=n_ranked,
        )
        return {
            "ingest.wave_s": median(t_ing),
            "ingest.rows_per_wave": median(turns),
            "graphrank.wave_s": median(t_fold),
        }


# ------------------------------------------------------ curation_batch
BLOCKLIST = tuple(f"w{i * 997 % 50000}" for i in range(32))


class CurationBatch(Workload):
    name = "curation_batch"
    item = "docs"
    n_docs = 1000
    n_shards = 8
    max_len = 1024
    update_max_len = 512

    def inputs(self, b):
        from pyspark.sql import functions as F

        from gliner_spark.curation_pipeline import synth_corpus

        # synth_corpus has no seed: the seed picks which window of its
        # doc-id space (and so which hashed texts) the run curates
        off = (b.seed % 1000) * self.n_docs
        docs = synth_corpus(b.spark, off + self.n_docs).where(
            F.pmod("doc_id", F.lit(1_000_000_000)) >= off
        ).cache()
        return {"docs": docs, "n": docs.count(), "offset": off}

    def warm_up(self, b, inp):
        from gliner_spark.operators.dedup import drop_common_lines

        _noop_write(drop_common_lines(inp["docs"], min_df=2))

    def jit_warm_up(self, b, work):
        from gliner_spark.curation_pipeline import run_curation_pipeline, synth_corpus

        small = synth_corpus(b.spark, 100)
        run_curation_pipeline(b.spark, small, work, max_len=self.max_len,
                              **self._kwargs(b, {"docs": small}))

    def _kwargs(self, b, inp):
        docs = inp["docs"]
        return dict(
            input_token=f"synth_corpus:{b.seed}:{self.n_docs}",
            blocklist_terms=BLOCKLIST,
            benchmark_docs=docs.where("doc_id % 199 = 0").select("doc_id", "text"),
            benchmark_token="mod199",
            mixture_budgets={"src0": 10_000_000_000},
            mixture_default_budget=5_000_000_000,
            n_shards=self.n_shards,
        )

    def measure(self, b, inp, work, s):
        from gliner_spark.curation_pipeline import run_curation_pipeline

        spark, docs, kw = b.spark, inp["docs"], self._kwargs(b, inp)
        for k in ("cold", "update", "overhead", "readback"):
            s[k] = []
        s["counts"], s["update_stages"], s["out_dirs"] = [], [], []
        deadline = pc() + b.seconds
        while True:
            out = os.path.join(work, f"cur{len(s['cold'])}")
            cold, _ = b.timed("lineage", lambda: run_curation_pipeline(
                spark, docs, out, max_len=self.max_len, **kw))
            rows = _lineage(out, spark)
            s["cold"].append(cold)
            s["counts"].append({st: n for st, n, _w in rows})
            s["out_dirs"].append(out)
            s["overhead"].append(cold - sum(w for _st, _n, w in rows))
            # alternate a new packing length and the old one: only `packed`
            # reruns, every other stage is read back
            for max_len in (self.update_max_len, self.max_len) * 2:
                update, _ = b.timed("lineage", lambda: run_curation_pipeline(
                    spark, docs, out, max_len=max_len, **kw))
                seen, rows = len(rows), _lineage(out, spark)
                s["update"].append(update)
                s["update_stages"].append(sorted(st for st, _n, _w in rows[seen:]))
                s["readback"].append(update - sum(w for _st, _n, w in rows[seen:]))
            s["packed_restored"] = rows[-1][1]
            s["units"].append(cold + sum(s["update"][-4:]))
            if pc() >= deadline:
                break

    def check(self, b, inp, s):
        out = s["out_dirs"][0]
        report = {
            r["reason"]: r["n_docs"]
            for r in b.spark.read.parquet(os.path.join(out, "attrition")).collect()
        }
        c = s["counts"][0]
        s["report"] = report
        b.check(
            "curation_stage_consistency",
            c["docs_clean"] == inp["n"] and c["decisions"] == inp["n"]
            and report.get("total") == inp["n"] and c["shards"] == report.get("kept")
            and c["packed"] > 0,
            docs=inp["n"], counts=c, total=report.get("total"), kept=report.get("kept"),
        )
        b.check(
            "stage_counts_repeat",
            all(x == c for x in s["counts"]) and s["packed_restored"] == c["packed"],
            packed=c["packed"], packed_recomputed=s["packed_restored"],
        )
        b.check(
            "update_reruns_only_packed",
            all(st == ["packed"] for st in s["update_stages"]),
            recomputed=s["update_stages"][0],
        )

    def end_to_end(self, inp, s):
        return inp["n"] / median(s["cold"]), median(s["update"])

    def named(self, inp, s):
        return {
            "curation_docs_per_s": (inp["n"] / median(s["cold"]), "1/s"),
            "curation_update_s": (median(s["update"]), "s"),
        }

    def properties(self, b, inp, s):
        return {
            "docs": inp["n"],
            "doc_id_offset": inp["offset"],
            "stage_rows": s["counts"][0],
            "attrition": s.get("report"),
            "iterations": len(s["cold"]),
        }

    def layers(self, b, inp, s, work):
        from gliner_spark.operators.curation import curate_corpus
        from gliner_spark.operators.dedup import drop_common_lines
        from gliner_spark.operators.packing import chunk_pack, shuffle_export

        kw = self._kwargs(b, inp)
        p = lambda n: os.path.join(work, n)  # noqa: E731
        out, rows = {}, {}
        out["dedup.docs_clean_s"], cleaned, rows["docs_clean"] = _materialize(
            b, "dedup", lambda: drop_common_lines(inp["docs"], min_df=2), p("docs_clean"))
        out["curation.decisions_s"], decisions, rows["decisions"] = _materialize(
            b, "curation", lambda: curate_corpus(
                cleaned, min_quality=0.5, blocklist_terms=kw["blocklist_terms"],
                benchmark_docs=kw["benchmark_docs"], near_dup_threshold=0.8,
                mixture_budgets=kw["mixture_budgets"], mixture_group_col="source",
                mixture_default_budget=kw["mixture_default_budget"])[0],
            p("decisions"))
        kept = cleaned.join(decisions.where("keep").select("doc_id"), "doc_id")
        out["packing.shards_s"], _sh, rows["shards"] = _materialize(
            b, "packing", lambda: shuffle_export(kept, n_shards=self.n_shards),
            p("shards"), partition_by=["shard"])
        out["packing.packed_s"], _pk, rows["packed"] = _materialize(
            b, "packing", lambda: chunk_pack(
                kept, max_len=self.max_len, n_shards=self.n_shards),
            p("packed"), partition_by=["shard"])
        out["lineage.overhead_s"] = median(s["overhead"])
        out["lineage.readback_s"] = median(s["readback"])
        stages = {k: s["counts"][0][k] for k in rows}
        b.check("layer_rows_equal_stage_rows", rows == stages, layers=rows, stages=stages)
        return out


WORKLOADS = {w.name: w for w in (KgBatch(), CurationBatch())}

# every per-layer metric, in BENCHMARK.json order; a workload that never
# enters a layer reports 0 for it
PER_LAYER_NAMES = [
    "session.start_s",
    "kernel.tokenize_us_per_turn", "kernel.score_us_per_turn",
    "kernel.re_score_us_per_turn", "kernel.decode_us_per_turn",
    "kernel.accept_ratio",
    "ner.entities_s", "ner.rows",
    "relations.triples_re_s", "relations.rows", "relations.labelled_turn_ratio",
    "cooccur.triples_cooccur_s", "cooccur.rows",
    "linking.signatures_s", "linking.candidate_pairs_s",
    "linking.verified_pairs_s", "linking.components_s", "linking.canon_map_s",
    "linking.candidate_pairs", "linking.verified_ratio",
    "linking.triples_canonical_s",
    "graph.nodes_s", "graph.edges_s",
    "lineage.overhead_s", "lineage.readback_s",
    "ingest.wave_s", "ingest.rows_per_wave", "graphrank.wave_s",
    "dedup.docs_clean_s", "curation.decisions_s",
    "packing.shards_s", "packing.packed_s",
    "trace.overhead_s",
] + [f"{layer}.{f}" for layer in EVENT_LAYERS for f in EVENT_FIELDS]

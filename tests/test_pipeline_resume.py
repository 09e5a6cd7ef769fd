"""End-to-end pipeline + checkpoint-resume semantics (north rule:
"resumable from checkpoint with per-partition lineage + metrics")."""

import datetime
import os
import threading
import time
import uuid
from collections import Counter

import pytest

from gliner_spark.pipeline import run_pipeline
from gliner_spark.sources.transcripts import synth_transcripts

ENTITY_TYPES = ["person", "organization", "tool"]
RELATIONS = ["uses", "works for"]


@pytest.fixture(scope="module")
def tiny_transcripts(spark):
    df = synth_transcripts(spark, n_convs=12).cache()
    df.count()
    return df


def _run(spark, df, out_dir, relations=RELATIONS):
    return run_pipeline(
        spark, df, out_dir, ENTITY_TYPES, relations, input_token="t12"
    )


@pytest.fixture(scope="module")
def clean_run(spark, tiny_transcripts, tmp_path_factory):
    """A never-crashed run: the reference every crash/resume test matches."""
    return _run(spark, tiny_transcripts, str(tmp_path_factory.mktemp("pipe_clean")))


def _canonical(res):
    return sorted(map(tuple, res.canonical_triples.collect()))


def test_pipeline_end_to_end(spark, tiny_transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    res = _run(spark, tiny_transcripts, out)
    assert res.entities.count() > 0
    assert res.triples.count() > 0
    assert res.nodes.count() > 0
    assert res.edges.count() > 0
    # every edge endpoint exists in nodes
    missing = (
        res.edges.join(
            res.nodes.select("entity_id"),
            res.edges.subj_id == res.nodes.entity_id,
            "left_anti",
        ).count()
    )
    assert missing == 0
    # lineage recorded one complete row per stage
    lin = res.runner.lineage().collect()
    assert {r.stage for r in lin} == {
        "entities", "triples_re", "triples_cooccur", "canon_map",
        "triples_canonical", "nodes", "edges",
    }
    assert all(r.status == "complete" for r in lin)
    # per-partition metrics exist and sum to stage row counts
    m = res.runner.metrics()
    ent_rows = sum(
        r.n_rows for r in m.where("stage = 'entities'").collect()
    )
    assert ent_rows == res.entities.count()


def test_resume_skips_completed_stages(spark, tiny_transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe_resume"))
    first = _run(spark, tiny_transcripts, out)
    triples1 = sorted(map(tuple, first.triples.collect()))
    n_lineage1 = first.runner.lineage().count()

    second = _run(spark, tiny_transcripts, out)
    triples2 = sorted(map(tuple, second.triples.collect()))
    # identical output, no stage re-ran (no new lineage rows)
    assert triples1 == triples2
    assert second.runner.lineage().count() == n_lineage1


def test_mid_run_crash_resume(spark, tiny_transcripts, clean_run,
                              tmp_path_factory, monkeypatch):
    """North-rule resume: kill the pipeline mid-run (crash injected at the
    canonicalization stage), rerun, and require (a) the stages completed
    before the crash are NOT recomputed and (b) the final triples equal a
    never-crashed run's."""
    import gliner_spark.pipeline as pipeline_mod

    out = str(tmp_path_factory.mktemp("pipe_crash"))
    real_canon = pipeline_mod.canonicalize
    calls = {"n": 0}

    def exploding_canonicalize(*a, **kw):
        calls["n"] += 1
        raise RuntimeError("injected mid-run failure")

    monkeypatch.setattr(pipeline_mod, "canonicalize", exploding_canonicalize)
    with pytest.raises(RuntimeError, match="injected"):
        _run(spark, tiny_transcripts, out)
    assert calls["n"] == 1
    runner_peek = __import__(
        "gliner_spark.plans.lineage", fromlist=["StageRunner"]
    ).StageRunner(spark, out)
    done_before = {r.stage for r in runner_peek.lineage().collect()}
    assert {"entities", "triples_re"} <= done_before
    assert "canon_map" not in done_before

    # recover: restore the real stage, rerun — earlier stages resume
    monkeypatch.setattr(pipeline_mod, "canonicalize", real_canon)
    res = _run(spark, tiny_transcripts, out)
    lineage = res.runner.lineage().collect()
    assert [r.stage for r in lineage].count("entities") == 1
    assert [r.stage for r in lineage].count("triples_re") == 1
    assert [r.stage for r in lineage].count("canon_map") == 1
    assert _canonical(res) == _canonical(clean_run)


def _rows(df):
    """df's rows as a sorted list, order-insensitive and None-safe."""
    return sorted(map(tuple, df.collect()), key=repr)


def test_independent_stages_overlap(spark, tiny_transcripts, tmp_path,
                                    monkeypatch):
    """triples_re reads the transcripts, not the persisted entities, so it
    runs beside entity extraction: each stage's producer waits (bounded)
    for the other's to have started. Run one after the other, the first
    producer times out alone."""
    import gliner_spark.pipeline as pipeline_mod

    meet = threading.Barrier(2, timeout=60)
    real_ents, real_triples = pipeline_mod.extract_entities, pipeline_mod.extract_triples

    def meeting(real):
        def produce(*a, **kw):
            meet.wait()
            return real(*a, **kw)

        return produce

    monkeypatch.setattr(pipeline_mod, "extract_entities", meeting(real_ents))
    monkeypatch.setattr(pipeline_mod, "extract_triples", meeting(real_triples))
    res = _run(spark, tiny_transcripts, str(tmp_path))
    assert res.triples.count() > 0 and res.entities.count() > 0


def test_stage_jobs_inherit_job_group(spark, tiny_transcripts, tmp_path):
    """Stage threads inherit the caller's local properties: every job a
    run_pipeline under sc.setJobGroup starts is in that group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"pipeline-{uuid.uuid4().hex}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "run_pipeline under a job group")
    try:
        _run(spark, tiny_transcripts, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert tracker.getJobIdsForGroup(group)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_failed_stage_raises_after_independent_stages_commit(
    spark, tiny_transcripts, tmp_path, monkeypatch
):
    """A raising canonicalize fails canon_map and every stage that reads
    it, but run_pipeline raises only once the stages that do not read it
    (triples_re, triples_cooccur) have committed, and no stage thread
    outlives the call."""
    import gliner_spark.pipeline as pipeline_mod
    from gliner_spark.plans.lineage import StageRunner

    def exploding_canonicalize(*a, **kw):
        raise RuntimeError("injected canon_map failure")

    monkeypatch.setattr(pipeline_mod, "canonicalize", exploding_canonicalize)
    with pytest.raises(RuntimeError, match="injected canon_map failure"):
        _run(spark, tiny_transcripts, str(tmp_path))
    assert not [t for t in threading.enumerate() if t.name.startswith("stage:")]
    done = {r.stage for r in StageRunner(spark, str(tmp_path)).lineage().collect()}
    assert done == {"entities", "triples_re", "triples_cooccur"}
    for stage in done:
        assert (tmp_path / stage / "_FINGERPRINT").exists()


def test_stages_equal_composed_operators(spark, tiny_transcripts, clean_run):
    """Every stage output of the DAG run equals the operators composed
    directly, one after another, as sorted rows."""
    from pyspark.sql import functions as F

    from gliner_spark.config import DEFAULT as cfg
    from gliner_spark.operators.cooccur import induce_cooccurrence
    from gliner_spark.operators.graph import build_edges, build_nodes
    from gliner_spark.operators.linking import canonicalize, rewrite_triples
    from gliner_spark.operators.ner import extract_entities
    from gliner_spark.operators.relations import extract_triples

    tr = tiny_transcripts
    ents = extract_entities(tr, ENTITY_TYPES, cfg)
    triples = extract_triples(tr, RELATIONS, ENTITY_TYPES, cfg)
    canon = canonicalize(
        ents.where(F.col("tok_end") - F.col("tok_start") < cfg.link_max_tokens),
        n_perms=cfg.minhash_perms,
        n_bands=cfg.lsh_bands,
        shingle_n=cfg.shingle_size,
        jaccard_threshold=cfg.jaccard_threshold,
    )
    ct = rewrite_triples(triples, canon)
    want = {
        "entities": ents,
        "triples": triples,
        "cooccur": induce_cooccurrence(ents, cfg.turn_window),
        "canon_map": canon,
        "canonical_triples": ct,
        "nodes": build_nodes(canon, ct),
        "edges": build_edges(ct),
    }
    for field_name, df in want.items():
        got = getattr(clean_run, field_name)
        assert got.columns == df.columns, field_name
        assert _rows(got) == _rows(df), field_name


@pytest.mark.parametrize("failing_step", ["lineage", "marker"])
def test_crash_before_marker_recomputes_stage(
    spark, tiny_transcripts, clean_run, tmp_path_factory, monkeypatch,
    failing_step,
):
    """The _FINGERPRINT marker is written LAST and is the commit record: a
    crash after canon_map's data (and metrics) are on disk but before its
    marker — in the lineage append, or in the marker write itself — must
    make the rerun recompute canon_map, not resume it, and the rerun must
    equal a never-crashed run. A crash at the marker leaves the attempt's
    truthful `complete` lineage row behind, so canon_map ends with two."""
    import gliner_spark.pipeline as pipeline_mod
    from gliner_spark.plans import lineage as lineage_mod

    out = str(tmp_path_factory.mktemp(f"pipe_crash_{failing_step}"))
    real_append, real_replace = lineage_mod._append_rows, lineage_mod.write_text

    def append_rows(directory, schema, rows):
        if schema is lineage_mod.LINEAGE_SCHEMA and rows[0]["stage"] == "canon_map":
            raise RuntimeError("injected crash before the lineage append")
        real_append(directory, schema, rows)

    def replace_into(directory, name, write):
        if name == lineage_mod._MARKER and os.path.basename(directory) == "canon_map":
            raise RuntimeError("injected crash before the marker")
        real_replace(directory, name, write)

    if failing_step == "lineage":
        monkeypatch.setattr(lineage_mod, "_append_rows", append_rows)
    else:
        monkeypatch.setattr(lineage_mod, "write_text", replace_into)
    with pytest.raises(RuntimeError, match="injected crash"):
        _run(spark, tiny_transcripts, out)
    assert os.path.exists(os.path.join(out, "canon_map", "_SUCCESS"))
    assert not os.path.exists(os.path.join(out, "canon_map", "_FINGERPRINT"))

    monkeypatch.setattr(lineage_mod, "_append_rows", real_append)
    monkeypatch.setattr(lineage_mod, "write_text", real_replace)
    calls = {"n": 0}
    real_canon = pipeline_mod.canonicalize

    def counting_canonicalize(*a, **kw):
        calls["n"] += 1
        return real_canon(*a, **kw)

    monkeypatch.setattr(pipeline_mod, "canonicalize", counting_canonicalize)
    res = _run(spark, tiny_transcripts, out)
    assert calls["n"] == 1  # recomputed, not resumed
    stages = [r.stage for r in res.runner.lineage().collect()]
    assert stages.count("entities") == 1
    assert stages.count("canon_map") == (2 if failing_step == "marker" else 1)
    assert _canonical(res) == _canonical(clean_run)


def test_config_change_invalidates_only_downstream(
    spark, tiny_transcripts, tmp_path_factory
):
    out = str(tmp_path_factory.mktemp("pipe_inval"))
    first = _run(spark, tiny_transcripts, out)
    base_stages = first.runner.lineage().count()

    # changing the relation list must rerun triples_re + triples_canonical
    # + nodes + edges (nodes cover triple endpoints), but NOT entities /
    # canon_map / cooccur
    second = _run(spark, tiny_transcripts, out, relations=["uses"])
    lin = second.runner.lineage().collect()
    assert len(lin) == base_stages + 4
    rerun = [r.stage for r in lin]
    assert rerun.count("triples_re") == 2
    assert rerun.count("triples_canonical") == 2
    assert rerun.count("nodes") == 2
    assert rerun.count("edges") == 2
    assert rerun.count("entities") == 1
    assert rerun.count("canon_map") == 1


def test_resume_never_returns_stale_other_fingerprint_output(
    spark, tmp_path_factory
):
    """Lineage rows are append-only but stage paths are overwritten per
    run: after run(A) → run(B) → run(A), the old complete (stage, fpA)
    row must NOT resume from the path (which now holds B's output) — the
    on-disk fingerprint marker forces a recompute."""
    from gliner_spark.plans.lineage import StageRunner, fingerprint

    out = str(tmp_path_factory.mktemp("stale"))
    runner = StageRunner(spark, out)
    fp_a, fp_b = fingerprint("s", "A"), fingerprint("s", "B")

    def produce_a():
        return spark.range(3).selectExpr("id", "'A' as tag")

    def produce_b():
        return spark.range(5).selectExpr("id", "'B' as tag")

    assert runner.run_stage("s", fp_a, produce_a).count() == 3
    assert runner.run_stage("s", fp_b, produce_b).count() == 5
    again = runner.run_stage("s", fp_a, produce_a)
    assert again.count() == 3
    assert {r.tag for r in again.collect()} == {"A"}


def _n_jobs(spark, fn):
    """The number of Spark jobs fn() submits."""
    sc = spark.sparkContext
    group = f"bookkeeping-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_bookkeeping_job_counts(spark, tiny_transcripts, clean_run, tmp_path):
    """Bookkeeping reads only metadata the write left behind: a computed
    stage runs exactly its bare write's jobs and a resumed stage runs
    none, so a run_pipeline call whose stages are all committed runs no
    Spark job. Measured at local[4] with AQE on, a bare write is one job
    and a read-back with schema inference is another. Before footer
    counts and schema-carrying markers, a computed stage also ran that
    read-back and a groupBy(spark_partition_id()) count (two jobs under
    AQE), and a resumed stage ran the read-back: at perfbench's kg_batch
    input the cold run_pipeline ran 56 jobs, the relation-change rerun
    26 and a full resume 7."""
    from gliner_spark.plans.lineage import StageRunner, fingerprint

    def produce():
        return spark.range(0, 10, 1, 2)

    bare = str(tmp_path / "bare")
    write = _n_jobs(spark, lambda: produce().write.parquet(bare))
    assert _n_jobs(spark, lambda: spark.read.parquet(bare)) == write == 1

    runner = StageRunner(spark, str(tmp_path / "out"))
    fp = fingerprint("s", "jobs")
    assert _n_jobs(spark, lambda: runner.run_stage("s", fp, produce)) == write
    assert _n_jobs(spark, lambda: runner.run_stage("s", fp, produce)) == 0

    out = clean_run.runner.out_dir
    assert _n_jobs(spark, lambda: _run(spark, tiny_transcripts, out)) == 0


@pytest.mark.parametrize("partition_by", [None, ["shard"]])
def test_empty_stage_commits_and_resumes(spark, tmp_path, partition_by):
    """An empty stage commits with n_rows = 0 and reads back with every
    column, on the compute and the resume path. A partitioned one writes
    no file at all, so there is no partition directory to discover, and
    its partition column keeps the frame's declared type."""
    from pyspark.sql import types as T

    from gliner_spark.plans.lineage import StageRunner, fingerprint

    runner = StageRunner(spark, str(tmp_path))
    fp = fingerprint("shards", "empty")

    def produce():
        return spark.range(0, 10, 1, 2).where("id < 0").selectExpr(
            "id AS doc_id", "id % 4 AS shard", "'x' AS tag"
        )

    want = [("doc_id", T.LongType()), ("tag", T.StringType())]
    want.insert(1 if partition_by is None else 2, ("shard", T.LongType()))

    def stage():
        return runner.run_stage("shards", fp, produce, partition_by=partition_by)

    computed = stage()
    assert _n_jobs(spark, stage) == 0
    for out in (computed, stage()):
        assert [(f.name, f.dataType) for f in out.schema] == want
        assert out.count() == 0
    (lin,) = runner.lineage().collect()
    assert lin.n_rows == 0
    assert sum(r.n_rows for r in runner.metrics().collect()) == 0
    assert (tmp_path / "shards" / "_FINGERPRINT").exists()


@pytest.mark.parametrize(
    "marker", ["plain", "truncated"], ids=["plain_text", "truncated_json"]
)
def test_unreadable_marker_recomputes_stage(spark, tmp_path, marker):
    """A _FINGERPRINT that is not a {"fingerprint", "schema"} object, such
    as an older plain-text fingerprint or a cut-off JSON one, counts as
    uncommitted: the stage recomputes without raising and then resumes."""
    from gliner_spark.plans.lineage import _MARKER, StageRunner, fingerprint

    runner = StageRunner(spark, str(tmp_path))
    fp = fingerprint("s", "marker")
    calls = {"n": 0}

    def produce():
        calls["n"] += 1
        return spark.range(0, 7, 1, 2)

    runner.run_stage("s", fp, produce)
    marker_path = tmp_path / "s" / _MARKER
    full = marker_path.read_text()
    marker_path.write_text(fp if marker == "plain" else full[: len(full) // 2])

    assert runner.run_stage("s", fp, produce).count() == 7
    assert calls["n"] == 2
    assert runner.run_stage("s", fp, produce).count() == 7
    assert calls["n"] == 2
    assert [r.n_rows for r in runner.lineage().collect()] == [7, 7]


_KG_STAGES = {
    "entities": "entities",
    "triples_re": "triples",
    "triples_cooccur": "cooccur",
    "canon_map": "canon_map",
    "triples_canonical": "canonical_triples",
    "nodes": "nodes",
    "edges": "edges",
}
_CURATION_STAGES = {
    "docs_clean": "cleaned",
    "decisions": "decisions",
    "attrition": "report",
    "shards": "shards",
    "packed": "packed",
}


def _assert_read_back_matches_parquet(spark, res, stages):
    """Every stage frame of a pipeline result has the schema a schema-
    inferring read of its dir gives, the lineage n_rows is that read's
    count, and the stage's _metrics rows sum to n_rows."""
    runner = res.runner
    lineage = {r.stage: r for r in runner.lineage().collect()}
    per_file = Counter()
    for r in runner.metrics().collect():
        per_file[r.stage, r.fingerprint] += r.n_rows
    assert set(lineage) == set(stages)
    for stage, field_name in stages.items():
        inferred = spark.read.parquet(os.path.join(runner.out_dir, stage))
        lin = lineage[stage]
        assert getattr(res, field_name).schema == inferred.schema, stage
        assert lin.n_rows == inferred.count(), stage
        assert per_file[(stage, lin.fingerprint)] == lin.n_rows, stage


def test_kg_stage_read_back_matches_parquet(spark, tiny_transcripts, clean_run):
    resumed = _run(spark, tiny_transcripts, clean_run.runner.out_dir)
    for res in (clean_run, resumed):
        _assert_read_back_matches_parquet(spark, res, _KG_STAGES)


def test_curation_stage_read_back_matches_parquet(spark, tmp_path):
    """The partitioned shards/packed stages are the guard here: partition
    discovery types their `shard` as int while the frame declares
    bigint, so a read-back with the produced schema would not match."""
    from gliner_spark.curation_pipeline import run_curation_pipeline, synth_corpus

    docs = synth_corpus(spark, 200)
    kwargs = dict(input_token="t:200", n_shards=4, max_len=128)
    computed = run_curation_pipeline(spark, docs, str(tmp_path), **kwargs)
    resumed = run_curation_pipeline(spark, docs, str(tmp_path), **kwargs)
    for res in (computed, resumed):
        _assert_read_back_matches_parquet(spark, res, _CURATION_STAGES)
    assert dict(computed.shards.dtypes)["shard"] == "int"


def test_partitioned_stage_bookkeeping_round_trip(spark, tmp_path, monkeypatch):
    """A partition_by stage shaped like curation shards/packed: its
    _metrics rows sum to the lineage n_rows, the lineage files read back
    with LINEAGE_SCHEMA's types, and completed_at falls inside the run's
    wall-clock window. The driver runs in a non-UTC zone, so a naive
    local time written as UTC would land hours outside it."""
    from gliner_spark.plans.lineage import LINEAGE_SCHEMA, StageRunner, fingerprint

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        runner = StageRunner(spark, str(tmp_path))
        fp = fingerprint("shards", 4)
        start = datetime.datetime.now()
        out = runner.run_stage(
            "shards",
            fp,
            lambda: spark.range(0, 1000, 1, 3).selectExpr(
                "id AS doc_id", "CAST(pmod(id * 7, 4) AS INT) AS shard"
            ),
            partition_by=["shard"],
        )
        end = datetime.datetime.now()
        (lin,) = runner.lineage().collect()
    finally:
        monkeypatch.undo()
        time.tzset()

    assert lin.n_rows == out.count() == 1000
    per_part = runner.metrics().collect()
    assert sum(r.n_rows for r in per_part) == lin.n_rows
    assert len({r.partition_id for r in per_part}) == len(per_part)
    on_disk = spark.read.parquet(runner.lineage_path).schema
    assert [(f.name, f.dataType) for f in on_disk] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA
    ]
    assert start <= lin.completed_at <= end


def test_mixed_language_pipeline_universal_tokenizer(
    spark, tiny_transcripts, tmp_path_factory
):
    """E2E auto-dispatch (VERDICT r02 #8): with tokenizer='universal'
    (pipeline_job's default) zh turns get per-character spans end-to-end
    while latin turns keep whitespace tokenization — matched exactly
    against the pure-Python oracle under the same config."""
    from pyspark.sql import functions as F

    from gliner_spark.config import PipelineConfig
    from gliner_spark.kernel.oracle import OraclePipeline

    zh_texts = [
        "张伟在清华大学工作。",
        "李娜访问了北京和上海。",
        "ACME 公司聘用了王芳。",
    ]
    zh = spark.createDataFrame(
        [(f"zh{i}", 0, "user", t, None, None) for i, t in enumerate(zh_texts)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    mixed = tiny_transcripts.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    ).unionByName(zh)
    cfg = PipelineConfig(tokenizer="universal", threshold=0.3)
    out = str(tmp_path_factory.mktemp("pipe_zh"))
    res = run_pipeline(
        spark, mixed, out, ENTITY_TYPES, RELATIONS, cfg=cfg,
        input_token="mixed-zh",
    )
    got_zh = {
        (r.conv_id, r.start, r.end, r.label, r.text)
        for r in res.entities.where(
            F.col("conv_id").startswith("zh")
        ).collect()
    }
    oracle = OraclePipeline(cfg)
    expected = oracle.run(zh_texts, ENTITY_TYPES, threshold=0.3)
    want = {
        (f"zh{i}", e["start"], e["end"], e["label"], e["text"])
        for i, ents in enumerate(expected)
        for e in ents
    }
    assert want, "oracle emitted no zh entities at threshold 0.3"
    assert got_zh == want
    # per-character dispatch really happened: no span swallows a clause
    assert all(e - s <= 12 for _c, s, e, _l, _t in want)
    # latin conversations still extract (whitespace path of the dispatch)
    assert res.entities.where(~F.col("conv_id").startswith("zh")).count() > 0

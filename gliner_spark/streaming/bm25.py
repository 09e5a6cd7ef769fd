"""Streaming inverted-index maintenance: fold each micro-batch of new
documents into a persisted BM25 index (operators/retrieval) — the
live-ingest side of corpus search, the retrieval twin of
streaming/linking.py's canonicalization folds.

Exactly-once under Structured Streaming's batch replay, with
crash-safe commits, WITHOUT rewriting the index per batch (the
generation-rotation trick linking uses would mean re-copying every
posting each fold — fine for a canonical map, absurd for an index):

 * batch N's postings land under `path/_stream/batch=N/bucket=B/…`,
   written with per-batch OVERWRITE — a redelivered batch id rewrites
   the same directory with the same rows instead of duplicating them.
 * the batch's sidecar counts are its marker
   `path/_stream/_meta_bN.json` (plans/commit.py's marker-last
   protocol). An uncommitted directory is ignored entirely (rows AND
   counts — the `batch IN (committed…)` literal filter prunes the
   directory), and the replay simply overwrites it.
 * `_stream` starts with an underscore, so the BASE index read
   (`spark.read.parquet(path)`) never lists it — base and segments
   only meet in `bm25_against_index`'s explicit union.

df is never stored (recomputed per query from the slice read), so
segment counts can't go stale — the same property that makes the batch
`append_to_bm25_index` exact. `compact_bm25_index` bounds the
per-query segment count by folding accumulated segments into a single
committed compaction GENERATION under the same protocol — the whole
index lifecycle (build → stream folds → compactions → queries)
survives a crash at any step.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.retrieval import (
    _GEN_MARKER,
    _SEG_MARKER,
    _fold_segment,
    _index_live_state,
)
from ..plans.commit import committed, drop_dead, write_text


def committed_stream_batches(path: str) -> list[int]:
    """Batch ids with a committed index segment (marker file present),
    ascending."""
    return sorted(committed(os.path.join(path, "_stream"), _SEG_MARKER))


def fold_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> bool:
    """One idempotent fold (the foreachBatch body, exposed for direct
    testing): write batch postings as a partitioned segment, then
    commit the marker — `retrieval._fold_segment`, the same core the
    batch `append_to_bm25_index` rides. Returns True if folded, False
    if skipped as already committed (a live marker OR an id at/below
    the latest compaction generation's `max_batch` watermark — batch
    ids are monotone, so a replay of a batch whose segment compaction
    already folded and deleted must not re-index it) or empty."""
    return _fold_segment(batch_df, path, batch_id, text_col, id_col)


def stream_index_documents(
    doc_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Attach the fold to a document stream (columns: doc_id, text).
    The base index must already exist (`build_bm25_index`, possibly on
    an empty corpus). Returns the StreamingQuery; query the live index
    any time with `bm25_against_index(spark, path, terms)`."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fold_index_batch(batch_df, batch_id, path, text_col, id_col)

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_bm25_index(spark, path: str) -> int:
    """Fold the live streaming segments (plus the previous compaction
    generation, if any) into ONE new compaction generation — crash-safe
    under plans/commit.py's marker-last protocol, like the fold path,
    and the base partitions are never touched. Returns the number of
    segments folded.

     * generation G lands at `path/_compacted/gen=G/bucket=B/…`
       (overwrite — a crashed rerun rewrites the same directory), its
       marker `_compacted/_meta_gG.json` holds the cumulative counts
       and `max_batch`, the highest folded batch id. Until the marker
       lands, queries keep reading the old generation + segments.
     * visibility hangs off the committed marker alone
       (`retrieval._index_live_state`): batch ids are monotone, so a
       segment is live iff `batch_id > max_batch`. The post-commit
       cleanup is therefore pure garbage collection: segment ids
       <= max_batch and generations older than the live one are dead,
       marked or not — killed mid-delete it leaves stale directories no
       query reads and no count includes, and the next compaction call
       finishes the GC. Markerless segments above the watermark stay:
       they may be an in-flight fold.
     * a stream REPLAY of a batch whose segment was compacted away is
       refused by the same watermark (`fold_index_batch` skips
       ids <= max_batch), so restart-after-compaction cannot
       double-index.

    Safe to kill at any point; concurrent queries stay correct through
    every step except the final GC unlink itself, whose file-listing
    race is inherent to any non-transactional file layout (a lakehouse
    table format would absorb exactly that last step). The fold path
    never NEEDS compaction for correctness — it only bounds the
    per-query segment count.
    """
    comp_dir = os.path.join(path, "_compacted")
    stream_dir = os.path.join(path, "_stream")

    def _gc(live_gen):
        floor = int(live_gen["max_batch"]) if live_gen else -1
        keep = int(live_gen["gen"]) if live_gen else -1
        drop_dead(comp_dir, _GEN_MARKER, "gen={}", lambda g: g < keep)
        drop_dead(stream_dir, _SEG_MARKER, "batch={}", lambda b: b <= floor)
        if os.path.isdir(stream_dir) and not os.listdir(stream_dir):
            shutil.rmtree(stream_dir)

    prev, segs = _index_live_state(path)
    _gc(prev)  # finish any cleanup a crashed run left behind
    if not segs:
        return 0
    batch_ids = list(segs)
    n_docs = sum(int(m["n_docs"]) for m in segs.values())
    total_dl = sum(int(m["total_dl"]) for m in segs.values())
    cols = "term string, doc_id long, tf double, dl double"
    parts = (
        spark.read.schema(f"{cols}, bucket bigint, batch bigint")
        .parquet(stream_dir)
        .where(F.col("batch").isin(batch_ids))
        .drop("batch")
    )
    new_gen = int(prev["gen"]) + 1 if prev else 0
    if prev is not None:
        parts = parts.unionByName(
            spark.read.schema(f"{cols}, bucket bigint").parquet(
                os.path.join(comp_dir, f"gen={int(prev['gen'])}")
            )
        )
        n_docs += int(prev["n_docs"])
        total_dl += int(prev["total_dl"])
    parts.repartition(F.col("bucket")).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(os.path.join(comp_dir, f"gen={new_gen}"))
    marker = {
        "gen": new_gen,
        "max_batch": max(batch_ids),
        "n_docs": n_docs,
        "total_dl": total_dl,
    }
    write_text(comp_dir, _GEN_MARKER.format(new_gen), json.dumps(marker))
    _gc(marker)
    return len(segs)

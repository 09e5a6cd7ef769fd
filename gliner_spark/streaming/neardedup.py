"""Streaming NEAR-dup candidate detection: MinHash-LSH band buckets as
grouped state.

Batch near-dedup (operators/dedup.py) self-joins band buckets; a live
feed can't self-join its own history, so the bucket becomes STATE: per
(band, band_hash) key, keep the bounded list of doc ids seen in that
bucket, and emit a candidate pair the moment a new arrival lands in a
bucket with history — across micro-batches, surviving restarts via the
state store.

Scale bounds, both explicit:
 * per-key state is capped (`max_bucket_size`, same contract as the
   batch lsh_bucket_pairs cap): a saturated bucket stops admitting ids,
   so templated-text mega-buckets cost O(cap) memory and O(cap) pairs
   per arrival instead of O(n²);
 * keys age out by EVENT TIME: with a watermark on `ts_col`, a bucket
   whose last arrival is older than watermark + `bucket_ttl` is removed
   from the state store (GroupStateTimeout.EventTimeTimeout) — near-dups
   farther apart in time than the TTL are the periodic batch pass's job,
   exactly like stream_dedup's watermark contract.

Signatures reuse the BATCH minhash expressions (pure map — legal on a
streaming DataFrame), so stream and batch agree bit-for-bit on which
band bucket a document lands in (parity-pinned in test_streaming).

Emitted pairs can repeat across bands/micro-batches (LSH semantics);
downstream either verifies with exact Jaccard in a foreachBatch or
dedups with dropDuplicatesWithinWatermark.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

BUCKET_STATE_SCHEMA = T.StructType(
    [T.StructField("ids", T.ArrayType(T.LongType()), False)]
)

CANDIDATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_a", T.LongType(), False),
        T.StructField("doc_b", T.LongType(), False),
        T.StructField("band", T.IntegerType(), False),
    ]
)


def banded_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    shingle_n: int = 3,
    n_perms: int = 64,
    n_bands: int = 16,
    watermark: str = "10 minutes",
) -> DataFrame:
    """(doc_id, ts, text) stream → (band, band_hash, doc_id, ts) rows,
    one per band — the same signature + banding expressions as the batch
    operator (minhash_sigs / linking.band_keys), pure map end-to-end (no
    join: ts rides the projection via minhash_sigs passthrough),
    watermarked."""
    from ..operators.dedup import minhash_sigs, shingle_col
    from ..operators.linking import band_keys

    with_sh = docs.select(
        "doc_id",
        F.col(ts_col).alias("ts"),
        shingle_col(text_col, shingle_n).alias("shingles"),
    )
    with_ts = minhash_sigs(with_sh, "doc_id", n_perms, passthrough=("ts",))
    banded = with_ts.select(
        "doc_id",
        "ts",
        F.posexplode(band_keys(n_bands, n_perms // n_bands)).alias(
            "band", "band_hash"
        ),
    )
    return banded.withWatermark("ts", watermark)


def stream_near_dup_candidates(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    shingle_n: int = 3,
    n_perms: int = 64,
    n_bands: int = 16,
    watermark: str = "10 minutes",
    max_bucket_size: int = 64,
    bucket_ttl_ms: int = 600_000,
) -> DataFrame:
    """Streaming (doc_id, ts, text) → candidate near-dup pairs
    (doc_a < doc_b, band) as they become known, using LSH band buckets
    as watermark-evicted grouped state."""
    banded = banded_stream(
        docs, text_col, ts_col, shingle_n, n_perms, n_bands, watermark
    )

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        band = int(key[0])
        ids: list[int] = list(state.get[0]) if state.exists else []
        known = set(ids)
        out_a: list[int] = []
        out_b: list[int] = []
        for pdf in pdfs:
            # deterministic intra-batch order
            for doc in sorted(int(x) for x in set(pdf["doc_id"])):
                if doc in known:
                    continue
                for other in ids:
                    a, b = (other, doc) if other < doc else (doc, other)
                    out_a.append(a)
                    out_b.append(b)
                if len(ids) < max_bucket_size:
                    ids.append(doc)
                    known.add(doc)
                # saturated buckets stop admitting (bounded state/pairs)
        state.update((ids,))
        # evict this bucket once the watermark passes its TTL
        state.setTimeoutTimestamp(
            state.getCurrentWatermarkMs() + bucket_ttl_ms
        )
        if out_a:
            yield pd.DataFrame(
                {"doc_a": out_a, "doc_b": out_b, "band": band}
            )

    return banded.groupBy("band", "band_hash").applyInPandasWithState(
        update,
        outputStructType=CANDIDATE_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

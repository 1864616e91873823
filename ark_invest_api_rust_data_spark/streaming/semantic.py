"""Streaming semantic dedup against a FROZEN quantizer with a growing
assignment store (B24×B29/B30 — the embedding twin of
streaming/ingest.py's MinHash loop): embedding batches arrive
continuously, each must be cosine-deduped against EVERYTHING seen
before, and the assignment store must grow with the stream while the
quantizer itself stays frozen (retraining per batch would both cost a
corpus pass and silently re-shard every earlier decision).

Policy: FIRST-SEEN-CANONICAL, identical to the MinHash loop — a new
vector is dropped iff some smaller-id vector in (seed corpus ∪ earlier
batches ∪ its own batch) shares its frozen-quantizer cluster at
quantized cosine ≥ threshold. Assignments of ALL ingested vectors —
kept or dropped — are appended, so "near-dup of a dropped dup" still
drops. With arrivals ordered by id this equals the batch rule exactly
(pytest-pinned against semantic_dedup over the frozen union).

The quantizer follows semantic_dedup_scaled's build rule: one-level
exact Lloyd's below the two-level bound, the two-level tree
(clustering.two_level_model) above it — so the SAME loop serves a 10⁴-
and a 10⁹-vector corpus. The model persists as ``model.json`` (≤ k1+k
rows of coordinates — bounded, the kmeans-seed pattern), which is what
makes the stream RESTARTABLE: a new driver reloads the exact frozen
coordinates and keeps assigning bit-identically.

Layout under ``store_root`` (idempotent per micro-batch — overwrite
into ``src=b<batch_id>`` partition dirs, crash replays replace):

* ``model.json`` — the frozen quantizer;
* ``asg/src=corpus|b<N>`` — (id, cluster) of everything ingested;
* ``vecs/src=corpus|b<N>`` — (id, embedding) (the verify stage needs
  neighbors' vectors; a real pipeline retains the embedding archive
  anyway);
* ``out/src=b<N>`` — (id, cluster, kept) per arrival.

Shuffle shape per micro-batch: the batch side is micro-batch-sized
(frozen assignment is a narrow map); the store reads are pruned to
clusters the batch touches inside semantic_dedup_incremental — the
only corpus-sized input is a pruned scan, and nothing corpus-sized
shuffles.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.clustering import (
    _TWO_LEVEL_BOUND,
    TwoLevelModel,
    assign_to_centroids,
    assign_to_two_level,
    kmeans_fit,
    scaled_k,
    semantic_dedup_incremental,
    two_level_model,
)
from .ingest import compact_partition_dir, read_live_partitions, unretire_src

_MODEL_FILE = "model.json"


def compact_semantic_store(
    spark: SparkSession,
    store_root: str,
    retired_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    target_files: int | None = None,
) -> dict:
    """Semantic-store lifecycle: fold the per-micro-batch ``asg`` and
    ``vecs`` partitions — one small file per batch forever — into one
    range-partitioned generation each (``asg`` clustered by the
    cluster id so the incremental verify's touched-cluster prune maps
    to file/row-group pruning; ``vecs`` by the vector id for the
    verify join-back), dropping ``retired_ids`` (vectors deleted from
    the corpus) from both. Same concurrency/crash contract as
    ``compact_band_store`` (shared ``compact_partition_dir``):
    committed-only fold, tombstone + deferred delete, safe under the
    running stream. Returns {"asg": {...}, "vecs": {...}}."""
    return {
        "asg": compact_partition_dir(
            spark, f"{store_root}/asg", "cluster",
            retired_ids=retired_ids, id_col=id_col,
            target_files=target_files,
        ),
        "vecs": compact_partition_dir(
            spark, f"{store_root}/vecs", id_col,
            retired_ids=retired_ids, id_col=id_col,
            target_files=target_files,
        ),
    }


def _save_model(store_root: str, model) -> None:
    os.makedirs(store_root, exist_ok=True)
    if isinstance(model, TwoLevelModel):
        payload = {
            "type": "two_level",
            "coarse": {str(c): v for c, v in model.coarse.items()},
            "sub": {str(c): v for c, v in model.sub.items()},
            "k2": model.k2,
        }
    else:
        payload = {
            "type": "one_level",
            "coarse": {str(c): v for c, v in model.items()},
        }
    tmp = f"{store_root}/{_MODEL_FILE}.tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, f"{store_root}/{_MODEL_FILE}")  # atomic on POSIX


def load_model(store_root: str):
    """Reload the frozen quantizer. JSON float round-trip is exact
    (shortest-roundtrip repr), so a restarted driver assigns
    bit-identically to the seeding session."""
    with open(f"{store_root}/{_MODEL_FILE}") as f:
        payload = json.load(f)
    coarse = {int(c): [float(x) for x in v] for c, v in payload["coarse"].items()}
    if payload["type"] == "one_level":
        return coarse
    sub = {int(c): [float(x) for x in v] for c, v in payload["sub"].items()}
    return TwoLevelModel(coarse, sub, int(payload["k2"]))


def _assign_frozen(df: DataFrame, model, id_col: str, vec_col: str) -> DataFrame:
    if isinstance(model, TwoLevelModel):
        return assign_to_two_level(df, model, id_col=id_col, vec_col=vec_col)
    return assign_to_centroids(df, model, id_col=id_col, vec_col=vec_col)


def seed_semantic_store(
    corpus: DataFrame,
    store_root: str,
    target_cluster_size: int = 32,
    iters: int = 2,
    k_min: int = 8,
    k_max: int = 65536,
    two_level_bound: int = _TWO_LEVEL_BOUND,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train the frozen quantizer over the seed corpus (one-time) and
    write the store seed. Build rule = semantic_dedup_scaled's: k
    derived from the corpus (capped at ``k_max``), two-level above
    ``two_level_bound``. Returns the model (also persisted)."""
    k = min(scaled_k(corpus.count(), target_cluster_size, k_min), k_max)
    if k > two_level_bound:
        model, asg = two_level_model(
            corpus, k, iters=iters, id_col=id_col, vec_col=vec_col
        )
    else:
        model, asg = kmeans_fit(
            corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        )
    asg.select(id_col, "cluster").write.mode("overwrite").parquet(
        f"{store_root}/asg/src=corpus"
    )
    corpus.select(id_col, vec_col).write.mode("overwrite").parquet(
        f"{store_root}/vecs/src=corpus"
    )
    _save_model(store_root, model)
    return model


def start_semantic_dedup_stream(
    spark: SparkSession,
    stream_vecs: DataFrame,
    store_root: str,
    checkpoint: str,
    threshold: float = 0.45,
    query_name: str = "semantic_dedup",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
):
    """Start the semantic ingest-dedup stream. Requires
    ``seed_semantic_store`` to have been run under ``store_root`` —
    the frozen model is reloaded from it, so a restarted (or brand
    new) driver continues assigning bit-identically."""
    model = load_model(store_root)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        batch = batch.localCheckpoint(eager=True)  # cut source lineage;
        # consumed by the dedup, the asg append, and the vecs append

        me = f"b{batch_id}"
        # CRASH-REPLAY SAFETY (same contract as streaming/ingest.py):
        # a replay of batch N must not read the crashed attempt's own
        # src=bN partitions — stale input AND the overwrite target.
        # read_live_partitions additionally prunes RETIRED partitions
        # (folded by a previous compact_semantic_store, pending
        # deferred deletion).
        asg_store = (
            read_live_partitions(spark, f"{store_root}/asg")
            .filter(F.col("src") != me)
            .select(id_col, "cluster")
        )
        seen_vecs = (
            read_live_partitions(spark, f"{store_root}/vecs")
            .filter(F.col("src") != me)
            .select(id_col, vec_col)
        )
        out = semantic_dedup_incremental(
            seen_vecs,
            batch.select(id_col, vec_col),
            (model, asg_store),
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
        )
        out.write.mode("overwrite").parquet(f"{store_root}/out/src={me}")
        # BATCH-ID REUSE SAFETY (ingest.py contract): a fresh-checkpoint
        # restart reuses b0 — un-tombstone our own src so a re-created
        # partition is live instead of pruned-then-deleted. Unretire
        # BEFORE the rewrite (r9 advisor): the old after-write order
        # left a window where a concurrent compact_semantic_store's
        # deferred delete could rmtree the freshly rewritten partition
        # and the late unretire then marked a deleted partition live —
        # the batch's asg/vecs rows silently missing from the store.
        # Compactions that read the tombstones before this call are
        # caught by compact_partition_dir's rewrite-detection guard.
        unretire_src(f"{store_root}/asg", me)
        unretire_src(f"{store_root}/vecs", me)
        # grow the store with ALL arrivals (kept or dropped — the
        # first-seen-canonical conservatism): later batches must drop
        # near-dups of dropped dups too
        _assign_frozen(batch, model, id_col, vec_col).select(
            id_col, "cluster"
        ).write.mode("overwrite").parquet(f"{store_root}/asg/src={me}")
        batch.select(id_col, vec_col).write.mode("overwrite").parquet(
            f"{store_root}/vecs/src={me}"
        )

    writer = (
        stream_vecs.writeStream.foreachBatch(process_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Streaming ANN-lake ingest — the Structured Streaming twin of the
batch IVF-PQ append lifecycle (plans/corpus.llm_ivfpq_append).

The 100 TB serving story for vector search is: train coarse + PQ ONCE,
then documents arrive continuously and must become searchable without
retraining and without rewriting the lake. This module runs that loop
as a stream: each micro-batch is frozen-encoded (operators/pq.
pq_encode_batch) and frozen-assigned (operators/clustering.
assign_to_centroids) — zero driver state beyond the bounded model —
and written as ONE idempotent partition overwrite.

Lake layout: ``{root}/src=<batch>/cluster=<cid>/*.parquet`` — a
two-level hive partitioning.

* ``src=`` is the exactly-once unit: foreachBatch replays after a
  crash re-run the SAME batch id (checkpoint contract), and the
  per-src ``mode("overwrite")`` makes the rewrite byte-idempotent. A
  stream restarted with a FRESH checkpoint over the same source files
  reproduces the same (batch id → rows) mapping (deterministic file
  order + maxFilesPerTrigger) and overwrites each src with identical
  content — no duplicates either way.
* ``cluster=`` is the serving unit: a frozen search's
  ``cluster IN (probed)`` predicate prunes to nprobe directories PER
  SRC — Spark prunes on any partition column, so the scan cost is
  O(nprobe · srcs) directories of codes, independent of corpus size
  (the llm_ivfpq_persisted posture; runtime-asserted in
  tests/test_pq.py over a streamed lake). Compaction of many small
  srcs into one generation (``compact_code_lake``) is deliberately
  decoupled from serving.

Compaction folds srcs into ``src=compact_g<N>`` and records the folded
srcs as tombstones in ``{root}/.retired.json``; readers go through
``read_live_partitions``, which prunes them, and the NEXT compaction
deletes them.

Search serves the UNION of everything ingested so far through the
unchanged ``IvfPqIndex.search`` — the codes schema is identical, the
extra ``src`` partition column is simply not selected.
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.clustering import assign_to_centroids
from ..operators.pq import IvfPqIndex, pq_encode_batch


def encode_batch_for_lake(
    index: IvfPqIndex, batch: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code_0..m-1, cluster) for one batch under the FROZEN
    models — the exact rows a lake partition holds. One narrow join of
    the two frozen passes, co-keyed on the id."""
    codes = pq_encode_batch(index.pq, batch, vec_col=vec_col)
    cells = assign_to_centroids(
        batch, index.coarse, id_col=id_col, vec_col=vec_col
    ).select(id_col, "cluster")
    return codes.join(cells, id_col)


def seed_code_lake(
    index: IvfPqIndex, df: DataFrame, lake_root: str, src: str = "corpus",
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> None:
    """Write the training corpus's codes as the lake's first ``src=``
    generation (frozen encode — bit-identical to what
    ``IvfPqIndex.build`` wrote at its flat path, re-laid-out under the
    streaming lake's two-level scheme)."""
    (
        encode_batch_for_lake(index, df, id_col=id_col, vec_col=vec_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("cluster")
        .parquet(f"{lake_root}/src={src}")
    )


def start_pq_ingest_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    index: IvfPqIndex,
    lake_root: str,
    checkpoint: str,
    query_name: str = "pq_ingest",
    available_now: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """foreachBatch loop: frozen-encode each arriving micro-batch and
    overwrite its ``src=b<id>`` partition. No retraining, no driver
    state, no read of existing lake data — each batch costs one narrow
    encode + one partitioned write."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        (
            encode_batch_for_lake(index, batch, id_col=id_col, vec_col=vec_col)
            .write.mode("overwrite")
            # pin static per-write: a src= rewrite is ALWAYS the whole
            # partition (idempotence contract), and static-mode commits
            # write the _SUCCESS marker compaction's committed-only
            # check requires — immune to session-level dynamic leaks
            .option("partitionOverwriteMode", "static")
            .partitionBy("cluster")
            .parquet(f"{lake_root}/src=b{batch_id}")
        )

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def search_code_lake(
    spark: SparkSession,
    index: IvfPqIndex,
    lake_root: str,
    query: list[float],
    nprobe: int = 2,
    topk: int = 10,
) -> DataFrame:
    """Frozen union search over the LIVE lake — the unchanged
    ``IvfPqIndex`` ADC plan over the tombstone-pruned view (retired
    ``src=`` generations produce no scan tasks; both ``src`` and
    ``cluster`` predicates are partition filters). Before any
    compaction the live view is simply every src."""
    codes = read_live_partitions(spark, lake_root)
    return index.search_frame(codes, query, nprobe=nprobe, topk=topk)


def compact_code_lake(
    spark: SparkSession,
    lake_root: str,
    retired_ids: DataFrame | None = None,
    id_col: str = "vec_id",
) -> dict:
    """Fold the accumulated per-batch ``src=`` generations into ONE
    ``compact_g<N>`` generation that KEEPS the ``cluster=`` hive
    layout (so nprobe pruning is unchanged). ``retired_ids`` deletes
    vectors from the index (the GDPR/unlearn path: the next generation
    simply omits their codes). Serving cost after the fold: a search
    opens nprobe directories of ONE generation instead of nprobe ×
    n_batches. Returns {"generation", "folded", "deleted", "rows"}.

    Safe to run CONCURRENTLY with the ingest stream:

    * only partitions carrying Spark's ``_SUCCESS`` commit marker are
      folded — an in-flight batch's partial partition is invisible to
      the compaction scan and untouched;
    * deletion is DEFERRED one compaction cycle: folding records the
      folded srcs as tombstones (atomic ``os.replace``) and leaves
      their files on disk; the NEXT compaction deletes them. The live
      view prunes retired partitions, so no search started after the
      fold opens their files. (No single search may span an entire
      compaction-to-compaction interval.)

    CRASH-SAFE by construction: the merged output is staged under a
    dot-prefixed dir Spark's partition discovery ignores, then
    atomically renamed to ``src=compact_g<N>``. A crash between the
    rename and the tombstone write leaves the folded partitions live
    next to the new generation — duplicate rows, which the next fold's
    ``dropDuplicates`` collapses."""
    all_srcs = partition_srcs(lake_root)
    if not all_srcs:
        raise FileNotFoundError(f"no partition store under {lake_root}")
    prev_retired = retired_srcs(lake_root)
    # Rewrite-detection guard: a batch-id-reuse replay (fresh
    # checkpoint) may rewrite a retired src AFTER it was tombstoned. A
    # retired dir whose mtime is newer than the tombstone file holds
    # live data: skip the delete and leave it out of this fold; the
    # fresh tombstone set written below no longer contains it, so it
    # is live again afterward (any duplicate rows vs an earlier
    # generation heal on the next fold's dropDuplicates).
    try:
        tomb_mtime = os.path.getmtime(f"{lake_root}/{_RETIRED_MARKER}")
    except OSError:
        tomb_mtime = float("inf")
    deleted = []
    for s in prev_retired:
        d = f"{lake_root}/src={s}"
        try:
            if os.path.getmtime(d) > tomb_mtime:
                continue  # rewritten after retirement — live data
        except OSError:
            pass  # already gone: rmtree below is a no-op
        shutil.rmtree(d, ignore_errors=True)
        deleted.append(s)
    srcs = [
        s
        for s in all_srcs
        if s not in prev_retired and os.path.exists(f"{lake_root}/src={s}/_SUCCESS")
    ]
    if not srcs:
        raise FileNotFoundError(f"no committed partitions under {lake_root}")
    gen = 1 + max(
        (int(s[len("compact_g") :]) for s in all_srcs if s.startswith("compact_g")),
        default=0,
    )
    tmp = f"{lake_root}/.compact_tmp"
    # basePath pins partition discovery to ONE root so the nested
    # cluster= dirs under each src= resolve consistently across the
    # selected roots
    df = (
        spark.read.option("basePath", lake_root)
        .parquet(*[f"{lake_root}/src={s}" for s in srcs])
        .drop("src")
        .dropDuplicates()
    )
    if retired_ids is not None:
        df = df.join(retired_ids.select(id_col).distinct(), id_col, "left_anti")
    n_files = max(1, spark.sparkContext.defaultParallelism // 4)
    # hash-cluster writers on the hive key so each partition dir gets
    # few large files, not one per task
    (
        df.repartition(n_files, "cluster")
        .sortWithinPartitions("cluster", id_col)
        .write.mode("overwrite")
        # static per-write: the staged generation must carry the
        # _SUCCESS marker the committed-only fold checks, even if some
        # earlier code set the session to dynamic overwrite
        .option("partitionOverwriteMode", "static")
        .partitionBy("cluster")
        .parquet(tmp)
    )
    n_rows = spark.read.parquet(tmp).count()
    os.rename(tmp, f"{lake_root}/src=compact_g{gen}")
    _write_retired_at(lake_root, srcs)
    return {"generation": gen, "folded": srcs, "deleted": deleted, "rows": n_rows}


def partition_srcs(base: str) -> list[str]:
    """``src=`` partition values physically under ``base``, retired
    tombstones included."""
    if not os.path.isdir(base):
        return []
    return sorted(
        d[len("src=") :] for d in os.listdir(base) if d.startswith("src=")
    )


_RETIRED_MARKER = ".retired.json"


def retired_srcs(base: str) -> list[str]:
    """Srcs folded into a compacted generation by the LAST compaction
    and kept on disk as tombstones (deleted by the NEXT compaction)."""
    try:
        with open(f"{base}/{_RETIRED_MARKER}") as f:
            return list(json.load(f).get("retired", []))
    except (OSError, ValueError):
        return []


def _write_retired_at(base: str, srcs: list[str]) -> None:
    tmp = f"{base}/{_RETIRED_MARKER}.tmp"
    with open(tmp, "w") as f:
        json.dump({"retired": sorted(srcs)}, f)
    os.replace(tmp, f"{base}/{_RETIRED_MARKER}")  # atomic on POSIX


def read_live_partitions(spark: SparkSession, base: str) -> DataFrame:
    """The LIVE view of a ``src=``-partitioned store: everything except
    retired tombstones (a partition-pruning predicate — pruned
    partitions produce no scan tasks, which is what makes the deferred
    delete in the next compaction safe under a running search)."""
    df = spark.read.parquet(base)
    retired = retired_srcs(base)
    if retired:
        df = df.filter(~F.col("src").isin(retired))
    return df

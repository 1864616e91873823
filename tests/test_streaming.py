"""B21–B24 replay tests (SURVEY §5): streaming result == batch result
on the same events with files arriving shuffled (late data) and
duplicated (at-least-once source); watermark lateness semantics proven
with a controlled multi-phase checkpointed run."""

from __future__ import annotations

import datetime
import glob
import shutil

import pyspark.sql.functions as F
import pytest

from ark_invest_api_rust_data_spark.catalog import load_table
from ark_invest_api_rust_data_spark.streaming.windows import (
    EVENT_SCHEMA,
    dedup_within_watermark,
    run_append_to_completion,
    run_to_completion,
    session_counts,
    sliding_counts,
    stream_events,
    tumbling_counts,
)


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=str)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """sf0.001 events as 10 parquet files in SHUFFLED time order
    (deterministic hash buckets) — event-time arrives out of order."""
    root = tmp_path_factory.mktemp("events_stream")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev = ev.withColumn("_bucket", F.pmod(F.hash("event_id"), F.lit(10)))
    out = root / "files"
    out.mkdir()
    for b in range(10):
        part = ev.filter(F.col("_bucket") == b).drop("_bucket")
        part.coalesce(1).write.mode("overwrite").parquet(f"{root}/b{b}_tmp")
        for i, f in enumerate(sorted(glob.glob(f"{root}/b{b}_tmp/part-*.parquet"))):
            shutil.copy(f, out / f"batch_{b}_{i}.parquet")
        shutil.rmtree(f"{root}/b{b}_tmp")
    return str(out)


def test_b21_tumbling_stream_equals_batch(spark, event_dir):
    """Unwatermarked replay: result is arrival-order independent and
    equals the batch aggregation exactly."""
    batch = tumbling_counts(spark.read.parquet(event_dir))
    stream = tumbling_counts(stream_events(spark, event_dir), watermark=None)
    assert _rows(run_to_completion(stream, "t_tumbling")) == _rows(batch)


def test_b21_sliding_stream_equals_batch(spark, event_dir):
    batch = sliding_counts(spark.read.parquet(event_dir))
    stream = sliding_counts(stream_events(spark, event_dir), watermark=None)
    assert _rows(run_to_completion(stream, "t_sliding")) == _rows(batch)


def test_b22_session_stream_equals_batch(spark, event_dir):
    """Session merging needs a watermark in streaming mode; a watermark
    larger than the full event-time span makes no data late, so the
    shuffled replay must equal batch exactly."""
    batch = session_counts(spark.read.parquet(event_dir))
    stream = session_counts(stream_events(spark, event_dir), watermark="800 hours")
    assert _rows(run_to_completion(stream, "t_session")) == _rows(batch)


def test_b22_session_matches_gaps_and_islands(spark):
    """Native session_window == the batch gaps-and-islands formulation
    (plans/relational.py b22) on per-user session counts."""
    from ark_invest_api_rust_data_spark.plans.relational import b22_sessionize

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    native = (
        session_counts(ev)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
    )
    assert _rows(native) == _rows(b22_sessionize(spark, sf))


def test_b23_watermark_late_data_semantics(spark, tmp_path):
    """Controlled three-phase run against one checkpoint:
    phase 1 establishes watermark; phase 2 delivers one tolerably-late
    event (counted) and one too-late event (dropped); phase 3 advances
    the watermark so windows finalize into the append sink."""
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_file(name, rows):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / ("stage_" + name)))
        part = glob.glob(str(tmp_path / ("stage_" + name) / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    T0 = datetime.datetime(2024, 6, 1, 10, 0, 0)

    def run_phase():
        q = (
            tumbling_counts(
                stream_events(spark, str(src)), watermark="1 hour"
            )
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: events 10:00-10:35 → watermark ≈ 09:35
    write_file(
        "p1",
        [
            (1, T0, 1, "click", 1.0, "{}"),
            (2, T0 + datetime.timedelta(minutes=5), 1, "click", 1.0, "{}"),
            (3, T0 + datetime.timedelta(minutes=35), 1, "click", 1.0, "{}"),
        ],
    )
    run_phase()
    # phase 2: late-but-tolerable 10:02 (within 1h of 10:35) → counted;
    # too-late 08:00 (before watermark 09:35) → dropped
    write_file(
        "p2",
        [
            (4, T0 + datetime.timedelta(minutes=2), 1, "click", 1.0, "{}"),
            (5, T0 - datetime.timedelta(hours=2), 1, "click", 1.0, "{}"),
        ],
    )
    run_phase()
    # phase 3: push watermark far ahead → all windows finalize
    write_file("p3", [(6, T0 + datetime.timedelta(hours=6), 1, "click", 1.0, "{}")])
    run_phase()

    got = {
        (r["w_start"], r["c"])
        for r in spark.read.schema(
            "w_start timestamp, event_type string, c long, sum_value double"
        ).parquet(str(sink)).collect()
    }
    # 10:00 window: events 1,2 + late 4 = 3 (too-late 5 NOT counted)
    assert (T0, 3) in got
    assert (T0 + datetime.timedelta(minutes=30), 1) in got
    assert not any(w < T0 for w, _ in got)  # 08:00 window never materialized


def test_b24_dedup_with_duplicated_files(spark, event_dir, tmp_path):
    """Duplicate every file (at-least-once delivery); streaming dedupe
    on event_id must equal batch distinct, each id exactly once."""
    dup_dir = tmp_path / "dup"
    dup_dir.mkdir()
    for i, f in enumerate(sorted(glob.glob(f"{event_dir}/*.parquet"))):
        shutil.copy(f, dup_dir / f"a_{i}.parquet")
        shutil.copy(f, dup_dir / f"b_{i}.parquet")

    deduped = dedup_within_watermark(stream_events(spark, str(dup_dir)), "800 hours")
    got = run_append_to_completion(deduped, "t_dedup")
    batch_ids = spark.read.parquet(event_dir).select("event_id").distinct()
    assert got.select("event_id").distinct().count() == batch_ids.count()
    assert got.count() == batch_ids.count()


def test_stream_stream_interval_join_equals_batch(spark, event_dir):
    """Bounded-state stream-stream join: purchases ⋈ clicks within a
    30-minute lookback per user — streaming replay (shuffled arrival,
    generous watermark) must equal the batch join."""
    from ark_invest_api_rust_data_spark.streaming.windows import interval_join

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), "user_id", "ts"
        )
        c = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("c_id"), "user_id", "ts"
        )
        return p, c

    bp, bc = split(spark.read.parquet(event_dir))
    batch = interval_join(bp, bc, "user_id").select("p_id", "c_id")

    sp, s_all = stream_events(spark, event_dir), stream_events(spark, event_dir)
    spf, scf = split(sp)[0], split(s_all)[1]
    stream = interval_join(spf, scf, "user_id", watermark="800 hours").select("p_id", "c_id")
    got = run_append_to_completion(stream, "t_interval")
    assert _rows(got) == _rows(batch)
    assert batch.count() > 0


def test_chaos_kill_midstream_then_restart(spark, event_dir, tmp_path):
    """Crash recovery, file-sink path: kill a running query after its
    first data-bearing micro-batch (1 file per trigger over 10 files),
    restart from the same checkpoint with availableNow — the sink must
    contain the batch result exactly once (no loss, no duplicates)."""
    import time

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def dedup_stream():
        # dedupe (not an agg) emits in append mode with no finalization
        # wait, so every committed batch is visible in the file sink —
        # the right operator for asserting exactly-once across a crash
        return dedup_within_watermark(
            stream_events(spark, event_dir, max_files_per_trigger=1), "800 hours"
        )

    q = (
        dedup_stream()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    # wait for ≥1 committed micro-batch, then kill mid-stream
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        p = q.lastProgress
        if p and p["batchId"] >= 1:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    assert q.lastProgress["batchId"] < 9, "query finished before the kill — not a chaos test"

    # restart from the same checkpoint; availableNow drains the rest
    q2 = (
        dedup_stream()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    got = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(sink)
    batch = spark.read.parquet(event_dir)
    # exactly-once: every event exactly once despite the mid-stream kill
    assert got.count() == batch.count()
    assert got.select("event_id").distinct().count() == batch.count()


def test_chaos_rocksdb_state_survives_restart(spark, event_dir, tmp_path):
    """Crash recovery, state-store path: with the RocksDB provider,
    dedupe state written in phase 1 must survive a stop/restart —
    duplicate files re-delivered under NEW names in phase 2 (so the
    source's processed-file log can't skip them) must still be
    suppressed by the operator's cross-restart state."""
    import glob as g

    # the deployment setting (DEPLOY.md): RocksDB state store with
    # changelog checkpointing, for queries started after the conf is set
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }

    src, sink, ckpt = tmp_path / "src", str(tmp_path / "sink"), str(tmp_path / "ckpt")
    src.mkdir()
    files = sorted(g.glob(f"{event_dir}/*.parquet"))
    half = len(files) // 2

    def run_phase():
        q = (
            dedup_within_watermark(stream_events(spark, str(src)), "800 hours")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    prev = {k: spark.conf.get(k, None) for k in rocksdb}
    for k, v in rocksdb.items():
        spark.conf.set(k, v)
    try:
        # phase 1: first half of the corpus
        for i, f in enumerate(files[:half]):
            shutil.copy(f, src / f"p1_{i}.parquet")
        run_phase()
        # state really is RocksDB: provider writes zip snapshots/changelogs
        state_files = g.glob(f"{ckpt}/state/0/*/*")
        assert any(p.endswith((".zip", ".changelog")) for p in state_files), state_files

        # "crash" boundary: new query object, same checkpoint.
        # phase 2: re-deliver phase-1 files under new names (source log
        # can't dedupe them) + the second half of the corpus
        for i, f in enumerate(files[:half]):
            shutil.copy(f, src / f"p2_redeliver_{i}.parquet")
        for i, f in enumerate(files[half:]):
            shutil.copy(f, src / f"p2_new_{i}.parquet")
        run_phase()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    got = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(sink)
    batch = spark.read.parquet(event_dir)
    assert got.count() == batch.select("event_id").distinct().count()
    assert got.select("event_id").distinct().count() == got.count()


def test_corpus_prep_narrow_ops_stream(spark, tmp_path):
    """The zero-shuffle corpus-prep ops (PII scrub, split assignment)
    are pure narrow maps, so they run UNCHANGED over a stream of
    arriving document shards — streaming output equals the batch run
    row-for-row. This is the 'prep the corpus as it lands' shape."""
    from ark_invest_api_rust_data_spark.operators.sampling import split_assign
    from ark_invest_api_rust_data_spark.operators.text import pii_scrub, quality_filter

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = tmp_path / "docs_stream"
    docs.repartition(4).write.mode("overwrite").parquet(str(src))

    def prep(df):
        # quality_filter(keep_docs=True) first: its pushdown-blocking
        # guard must stay streaming-legal (rand, not
        # monotonically_increasing_id — r3 review finding)
        kept = quality_filter(df, keep_docs=True)
        return split_assign(pii_scrub(kept), id_col="doc_id").select(
            "doc_id", "n_pii_total", "clean_text", "bucket", "split"
        )

    stream_in = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        prep(stream_in)
        .writeStream.format("memory")
        .queryName("t_corpus_prep")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _rows(spark.table("t_corpus_prep")) == _rows(
        prep(spark.read.parquet(str(src)))
    )


def _code_lake_src(spark, lake, src, ids):
    """One ``src=`` generation of a code lake: (vec_id, code_0) rows
    hive-partitioned by ``cluster`` — the layout ann_ingest writes."""
    (
        spark.createDataFrame([(i, i % 7, i % 3) for i in ids], "vec_id long, code_0 int, cluster int")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")  # commits _SUCCESS
        .partitionBy("cluster")
        .parquet(f"{lake}/src={src}")
    )


def _live_ids(spark, lake):
    from ark_invest_api_rust_data_spark.streaming.ann_ingest import read_live_partitions

    return sorted(r["vec_id"] for r in read_live_partitions(spark, lake).select("vec_id").collect())


def test_code_lake_compaction_skips_inflight_partition(spark, tmp_path):
    """Concurrent-writer safety for the code lake: a partition mid-write
    (no _SUCCESS marker — exactly what an in-flight ingest batch looks
    like) is neither folded into the compacted generation nor deleted;
    committed partitions fold normally, duplicate rows across folded
    srcs collapse, and the generation keeps the cluster= layout."""
    import os

    from ark_invest_api_rust_data_spark.streaming.ann_ingest import (
        compact_code_lake,
        partition_srcs,
        retired_srcs,
    )

    lake = str(tmp_path / "lake")
    _code_lake_src(spark, lake, "corpus", range(80))
    _code_lake_src(spark, lake, "b1", range(10))  # rows the corpus already holds
    _code_lake_src(spark, lake, "b7", range(80, 100))
    os.remove(f"{lake}/src=b7/_SUCCESS")
    inflight = sorted(os.path.relpath(os.path.join(d, f), lake) for d, _, fs in os.walk(f"{lake}/src=b7") for f in fs)

    info = compact_code_lake(spark, lake)
    assert info["folded"] == ["b1", "corpus"]  # only the committed partitions
    assert info["rows"] == 80 and info["deleted"] == []
    # deferred deletion: the folded partitions are tombstoned, not
    # deleted; the live view shows the new generation + the in-flight
    # batch only
    assert partition_srcs(lake) == ["b1", "b7", "compact_g1", "corpus"]
    assert retired_srcs(lake) == ["b1", "corpus"]
    assert _live_ids(spark, lake) == list(range(100))
    # the in-flight partition is untouched and still visible
    assert sorted(os.path.relpath(os.path.join(d, f), lake) for d, _, fs in os.walk(f"{lake}/src=b7") for f in fs) == inflight
    gen = spark.read.parquet(f"{lake}/src=compact_g1")
    assert sorted(r["vec_id"] for r in gen.select("vec_id").collect()) == list(range(80))
    assert sorted(d for d in os.listdir(f"{lake}/src=compact_g1") if d.startswith("cluster=")) == [
        "cluster=0", "cluster=1", "cluster=2",
    ]


def test_compaction_spares_retired_src_rewritten_after_tombstone(spark, tmp_path):
    """A batch-id-reuse replay (fresh checkpoint) can rewrite a RETIRED
    src after it was tombstoned. The rewritten partition's dir mtime is
    newer than the tombstone file — compaction must spare it (skip the
    deferred delete, leave it out of the fold) and the fresh tombstone
    set makes it live again."""
    import time as _time

    from ark_invest_api_rust_data_spark.streaming.ann_ingest import (
        compact_code_lake,
        retired_srcs,
    )

    lake = str(tmp_path / "lake")
    _code_lake_src(spark, lake, "b0", range(10))
    info = compact_code_lake(spark, lake)
    assert info["folded"] == ["b0"] and retired_srcs(lake) == ["b0"]
    _time.sleep(0.05)
    # the race: a replay rewrites retired src=b0 with NEW rows
    _code_lake_src(spark, lake, "b0", range(100, 110))
    info2 = compact_code_lake(spark, lake)
    assert info2["deleted"] == [], "rewritten partition must not be deleted"
    assert "b0" not in info2["folded"]
    live = set(_live_ids(spark, lake))
    assert set(range(100, 110)) <= live, "replayed rows must be live"
    assert set(range(10)) <= live, "folded generation rows intact"
    # the NEXT compaction folds the now-live partition normally
    info3 = compact_code_lake(spark, lake)
    assert "b0" in info3["folded"]
    assert _live_ids(spark, lake) == list(range(10)) + list(range(100, 110))

"""Parquet cache store (SURVEY.md §2 S1/S2) — two layouts.

Compat layout (reference parity): ONE ``{root}/{TICKER}.parquet`` FILE
per ticker (/root/reference/src/util.rs:92-95,100-108) — the companion
REST API reads that exact path, so the writer produces a single file
via coalesce(1) into a temp dir + atomic rename.

Lake layout (100 TB posture): hive-partitioned
``{root}/holdings/ticker=X/date=D/``. Partition pruning turns
per-ticker/per-date queries into narrow scans; incremental merges
rewrite only affected date partitions (dynamic partition overwrite)
instead of the whole history.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DateType, DoubleType, LongType, StringType, StructField, StructType

from ..session import tune

# Arrow types of the canonical holdings schema and what Spark's parquet
# reader makes of them. Polars (the reference's writer) stores strings
# as large_string; Spark reads both string kinds as StringType.
_SPARK_TYPES = {
    pa.string(): StringType(),
    pa.large_string(): StringType(),
    pa.int64(): LongType(),
    pa.float64(): DoubleType(),
    pa.date32(): DateType(),
}


def footer_schema(path: str) -> StructType | None:
    """The Spark schema of a canonical-typed Parquet file, read from its
    footer on the driver: every field nullable, as Spark's file sources
    make it. None when any column has another type (under
    ``nanosAsLong`` a nanosecond timestamp reads as bigint, say), so the
    caller leaves the schema to Spark's inference."""
    fields = []
    for f in pq.read_schema(path):
        t = _SPARK_TYPES.get(f.type)
        if t is None:
            return None
        fields.append(StructField(f.name, t, True))
    return StructType(fields)


def footer_watermark(root: str, ticker: str) -> tuple[bool, datetime.date | None]:
    """U4 from the cache's footer, with no Spark job: ``(True,
    max(date))`` from the row-group statistics, ``(True, None)`` when
    no row has a date (the ``max`` aggregate's answer too). ``(False,
    None)`` when the statistics cannot answer: ``date`` is not a
    top-level date32 column, or a non-empty row group has no min/max
    and is not all null."""
    md = pq.read_metadata(_ticker_path(root, ticker))
    leaf = next((j for j in range(md.num_columns) if md.schema.column(j).path == "date"), None)
    if leaf is None or md.schema.to_arrow_schema().field("date").type != pa.date32():
        return False, None
    top = None
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        if group.num_rows == 0:
            continue
        stats = group.column(leaf).statistics
        if stats is None:
            return False, None
        if stats.has_min_max:
            top = stats.max if top is None else max(top, stats.max)
        elif not (stats.has_null_count and stats.null_count == group.num_rows):
            return False, None
    return True, top


def _ticker_path(root: str, ticker: str) -> str:
    return f"{root}/{ticker}.parquet"


def read_ticker(spark: SparkSession, root: str, ticker: str) -> DataFrame | None:
    """S1 — lazy per-ticker cache scan; None if no cache (bootstrap).
    The schema comes from the footer (footer_schema), so the scan runs
    no inference job; a non-canonical file falls back to inference."""
    tune(spark)
    path = _ticker_path(root, ticker)
    if not os.path.exists(path):
        return None
    schema = footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def write_ticker(df: DataFrame, root: str, ticker: str) -> str:
    """S2 — overwrite the single-file cache. coalesce(1) is correct
    here by design: per-ticker frames are ~10⁴–10⁵ rows (BASELINE.md);
    the lake layout below is the path for anything bigger."""
    os.makedirs(root, exist_ok=True)
    final = _ticker_path(root, ticker)
    tmp = tempfile.mkdtemp(prefix=f".{ticker}_", dir=root)
    try:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        os.replace(part, final)  # atomic on same filesystem
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def write_lake(
    df: DataFrame,
    root: str,
    mode: str = "overwrite",
    partition_cols: tuple[str, ...] = ("ticker", "date"),
) -> str:
    """Scale sink: hive-partitioned by (ticker, date) by default. With
    ``partitionOverwriteMode=dynamic`` an incremental merge rewrites
    only the date partitions present in ``df``. Writes land in the
    CURRENT generation directory (manifest-addressed; ``holdings`` for
    a fresh lake) — compaction retires whole generations, it never
    mutates one (see compact_lake)."""
    path = _lake_dir(root)
    # per-WRITE dynamic overwrite (DataFrameWriter option overrides the
    # session conf) — the old session-wide conf.set leaked into every
    # later partitioned overwrite in the session, whose dynamic-mode
    # commit skips the _SUCCESS marker and broke the code-lake
    # compaction's committed-partition check (r11)
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    return path


def read_lake(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Read the lake at HEAD, or pinned at ``version`` (time travel /
    snapshot isolation): each compaction commits a NEW generation
    directory and retires — never mutates — the old one, so a reader
    that resolved version v keeps a consistent file set even while a
    compaction swaps HEAD underneath it (until vacuum_lake reclaims
    that generation, at which point this raises FileNotFoundError)."""
    tune(spark)
    if version is None:
        return spark.read.parquet(_lake_dir(root))
    for entry in reversed(read_lake_history(root)):
        if int(entry["version"]) == version:
            path = f"{root}/{entry['data_dir']}"
            if not os.path.isdir(path):
                raise FileNotFoundError(
                    f"lake version {version} was vacuumed ({path} gone)"
                )
            return spark.read.parquet(path)
    raise ValueError(f"unknown lake version {version} (no history entry)")


def diff_lake_versions(
    spark: SparkSession, root: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """Row-level CDC between two retained lake generations: the
    multiset delta (``exceptAll`` both directions, duplicates
    preserved) labeled ``op = 'insert' | 'delete'`` — an update
    appears as delete+insert, the standard snapshot-diff contract.
    ``v_to=None`` diffs against HEAD.

    This is what time travel is FOR operationally: a consumer that
    missed N compaction cycles reconciles by reading one bounded delta
    instead of re-scanning the lake. Scale shape: two generation scans
    + one hash-partitioned exceptAll per direction — O(changed rows)
    output; works while a compactor runs because generations are
    immutable until vacuumed (read_lake's snapshot contract)."""
    import pyspark.sql.functions as F

    old = read_lake(spark, root, version=v_from)
    new = read_lake(spark, root, version=v_to)
    ins = new.exceptAll(old).withColumn("op", F.lit("insert"))
    dels = old.exceptAll(new).withColumn("op", F.lit("delete"))
    return ins.unionByName(dels)


def write_lake_bucketed_by_cusip(
    df: DataFrame, table: str = "holdings_by_cusip", num_buckets: int = 32
) -> None:
    """Security-centric lake variant: holdings bucketed by ``cusip``
    and sorted by (cusip, date) — the layout for cross-fund
    security-level analytics (which funds hold X, position history of
    X), where the ticker=/date= hive layout is exactly wrong (a
    per-security query would touch EVERY partition).

    Bucketing pays the cusip shuffle once at write time; after that:
    * cusip⋈cusip joins (holdings against a securities dim bucketed
      the same way) plan with NO Exchange on either side, and
    * a single-security filter prunes to 1/num_buckets of the files
      (``SelectedBucketsCount`` in the scan node) before any IO.

    Kept as a *secondary* copy next to the hive lake — at 100 TB the
    two layouts serve disjoint query families, and storage is cheaper
    than the per-query shuffle this removes."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, "cusip")
        .sortBy("cusip", "date")
        .saveAsTable(table)
    )


def security_history(spark: SparkSession, cusip: str, table: str = "holdings_by_cusip") -> DataFrame:
    """Cross-fund position history of one security from the bucketed
    lake: bucket pruning reads only the one bucket that can contain
    the cusip (SelectedBucketsCount: 1 out of N in the scan).

    Spark's auto-bucketed-scan heuristic disables bucketed reading for
    filter-only plans (it only considers shuffle elision, not pruning),
    which would silently scan every file — pin it off so the scan stays
    bucketed and the equality filter prunes."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    return (
        spark.table(table)
        .filter(F.col("cusip") == cusip)
        .orderBy("date", "ticker")
    )


# ---------------------------------------------------------------------
# concurrent-writer safety (VERDICT r3 #5): a manifest version pointer
# plus a commit lock make the compactor and an ingest loop safe to run
# over the same prefix. The manifest is a tiny JSON swapped in by
# os.replace (the same single-file atomic-rename trick write_ticker
# uses); the lock is an os.mkdir dir (atomic create-or-fail on POSIX).
# Ingest holds the lock across its (small) partition write + version
# bump; the compactor does its big rewrite OUTSIDE the lock and swaps
# only if the version it read is still current — otherwise an ingest
# landed mid-rewrite, the staged copy is stale, and the swap would
# LOSE that batch, so it aborts and retries from the new version.
# ---------------------------------------------------------------------


def _manifest_path(root: str) -> str:
    return f"{root}/_LAKE_MANIFEST"


def _history_path(root: str) -> str:
    return f"{root}/_LAKE_HISTORY.jsonl"


def _read_manifest(root: str) -> tuple[int, str]:
    """(version, data_dir). Manifest v1 lakes (no data_dir key) and
    manifest-less lakes resolve to the original ``holdings`` dir."""
    import json

    try:
        with open(_manifest_path(root)) as f:
            m = json.load(f)
        return int(m["version"]), str(m.get("data_dir", "holdings"))
    except (FileNotFoundError, ValueError, KeyError):
        return 0, "holdings"


def read_lake_version(root: str) -> int:
    """Committed lake version; 0 for a lake without a manifest yet."""
    return _read_manifest(root)[0]


def _lake_dir(root: str) -> str:
    """Absolute path of the CURRENT generation's data directory."""
    return f"{root}/{_read_manifest(root)[1]}"


def read_lake_history(root: str) -> list[dict]:
    """Commit log: one {version, data_dir} per committed version,
    oldest first. Torn trailing lines (crash mid-append) are skipped —
    the manifest, not the history, is the source of truth for HEAD."""
    import json

    out = []
    try:
        with open(_history_path(root)) as f:
            for line in f:
                try:
                    out.append(json.loads(line))
                except ValueError:
                    continue
    except FileNotFoundError:
        pass
    return out


def _write_manifest(root: str, version: int, data_dir: str = "holdings") -> None:
    import json

    os.makedirs(root, exist_ok=True)
    with open(_history_path(root), "a") as f:
        f.write(json.dumps({"version": version, "data_dir": data_dir}) + "\n")
    tmp = f"{_manifest_path(root)}.tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version, "data_dir": data_dir}, f)
    os.replace(tmp, _manifest_path(root))  # atomic on same filesystem


class lake_lock:
    """Commit lock for ``root`` — os.mkdir is atomic, so exactly one
    writer holds it. Spin-waits up to ``timeout`` seconds. No stale-
    lock stealing by default: a crashed holder leaves the dir, which an
    operator removes after confirming the writer is dead (stealing on
    mtime would let a paused-but-alive writer race its own thief)."""

    def __init__(self, root: str, timeout: float = 60.0, poll: float = 0.05):
        self.path = f"{root}/.lake_commit_lock"
        self.timeout, self.poll = timeout, poll

    def __enter__(self) -> "lake_lock":
        import time

        deadline = time.monotonic() + self.timeout
        while True:
            try:
                os.makedirs(os.path.dirname(self.path), exist_ok=True)
                os.mkdir(self.path)
                return self
            except FileExistsError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(f"lake commit lock busy: {self.path}")
                time.sleep(self.poll)

    def __exit__(self, *exc) -> None:
        os.rmdir(self.path)


def write_lake_committed(
    df: DataFrame,
    root: str,
    mode: str = "overwrite",
    partition_cols: tuple[str, ...] = ("ticker", "date"),
    lock_timeout: float = 60.0,
) -> int:
    """``write_lake`` under the commit protocol: lock → partition write
    → version bump. Use this (instead of raw write_lake) whenever a
    compactor may run concurrently. Ingest batches are small, so the
    lock hold is one partition-overwrite long; the compactor's hours of
    rewrite never hold it. Returns the committed version."""
    with lake_lock(root, timeout=lock_timeout):
        write_lake(df, root, mode=mode, partition_cols=partition_cols)
        v, data_dir = _read_manifest(root)
        _write_manifest(root, v + 1, data_dir)  # same generation, new version
        return v + 1


def compact_lake(
    spark: SparkSession,
    root: str,
    max_records_per_file: int = 5_000_000,
    attempts: int = 3,
) -> int:
    """Compact the hive-partitioned holdings lake in place.

    Incremental merges with dynamic partition overwrite accumulate one
    small file per merge per touched partition; at warehouse scale the
    file count (not data size) becomes the scan bottleneck. This
    rewrites every partition through a shuffle-free coalescing pass:
    read → write with maxRecordsPerFile, partition layout preserved.

    Rows are sorted by (ticker, date, cusip) WITHIN each task before
    the partitioned write — still narrow (no shuffle: partitionBy
    splits each task's run into per-partition files, and the sort
    makes every written file cusip-ordered). Row order is load-bearing
    at scale twice over: ordered files compress better AND parquet
    row-group min/max stats on cusip become selective, so
    security-centric point reads prune row groups, not just partition
    dirs (measured in SCALE.md finding 4: random layout inflated
    downstream shuffle bytes ~2.4×).

    Crash safety + READER snapshot isolation: the rewrite lands in a
    staged sibling and commits as a brand-new GENERATION directory
    (``holdings@v{N}``) — the old generation is retired, never mutated
    or renamed, so a reader (or a long analytic job) that resolved its
    file set before the commit keeps reading a consistent snapshot
    while HEAD moves on.  The pre-snapshot design re-pointed the live
    directory with os.replace, which yanked files out from under
    in-flight scans at exactly the moment compaction is most needed.
    Old generations are reclaimed by ``vacuum_lake`` (deferred, like
    the band-store tombstones) — until then ``read_lake(version=)``
    time-travels to them.

    Concurrent-writer safety: the swap is an OPTIMISTIC commit against
    the manifest version. The big rewrite runs without the lock; under
    the lock the version is re-read, and if an ingest committed since
    the scan started the staged copy is stale (swapping it in would
    silently drop that batch), so the attempt aborts and re-runs from
    the new version — up to ``attempts`` times, then RuntimeError
    (under sustained ingest pressure, schedule compaction into an
    ingest pause). Writers must commit through write_lake_committed
    for the conflict to be detectable. Returns the number of files
    after compaction."""
    import glob as _glob

    staged = f"{root}/.holdings_compacting"
    for _ in range(attempts):
        v_scanned, dir_scanned = _read_manifest(root)
        path = f"{root}/{dir_scanned}"
        shutil.rmtree(staged, ignore_errors=True)
        df = spark.read.parquet(path)
        (
            df.sortWithinPartitions("ticker", "date", "cusip")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .partitionBy("ticker", "date")
            .parquet(staged)
        )
        with lake_lock(root):
            if read_lake_version(root) != v_scanned:
                continue  # an ingest landed mid-rewrite: staged is stale
            new_dir = f"holdings@v{v_scanned + 1}"
            os.replace(staged, f"{root}/{new_dir}")  # metadata-only
            _write_manifest(root, v_scanned + 1, new_dir)
        return len(_glob.glob(f"{root}/{new_dir}/*/*/*.parquet"))
    shutil.rmtree(staged, ignore_errors=True)
    raise RuntimeError(
        f"compact_lake lost the commit race {attempts} times under "
        f"sustained ingest; schedule compaction into an ingest pause"
    )


def vacuum_lake(root: str, keep: int = 2) -> list[str]:
    """Reclaim retired generation directories, keeping the ``keep``
    most recent distinct generations (HEAD always survives).  Deferred
    deletion is what makes the snapshot guarantee real: run vacuum on
    a schedule longer than the longest analytic job, the same
    contract as the band store's tombstone cycle.  Only directories
    recorded as a ``data_dir`` in the commit history are candidates —
    vacuum never touches anything it did not commit.  Returns the
    deleted paths."""
    hist = read_lake_history(root)
    _, head_dir = _read_manifest(root)
    seen: list[str] = []
    for e in hist:  # oldest → newest; keep order of first commit
        d = str(e["data_dir"])
        if d not in seen:
            seen.append(d)
    keep_set = set(seen[-keep:]) | {head_dir}
    deleted = []
    for d in seen:
        if d in keep_set:
            continue
        path = f"{root}/{d}"
        if os.path.isdir(path):
            shutil.rmtree(path)
            deleted.append(path)
    return deleted

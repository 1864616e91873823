"""SparkSession factory and runtime tuning.

The reference (/root/reference) runs single-process Polars with eager
``collect()`` between stages (src/util/df.rs:26-37); on Spark the whole
pipeline stays one lazy DAG and Catalyst/AQE pick physical strategies.
Everything here is plain public Spark configuration.

Two entry points:

* :func:`get_spark` — build a session for tests / CLI use (local master).
* :func:`tune` — apply the runtime-settable subset of our config to a
  session we did NOT create (the verify driver hands us its own session).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.errors import AnalysisException, PySparkAttributeError
from pyspark.sql import SparkSession

# Conf that must be in place before certain reads/plans; all of these are
# runtime-settable SQL confs (verified: spark.conf.set works post-start).
RUNTIME_CONF: dict[str, str] = {
    # testdata events.parquet stores TIMESTAMP(NANOS) which the vectorized
    # parquet reader rejects; read the raw int64 and convert ourselves
    # (catalog.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics for to_date/from_unixtime etc.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning, skew-join handling, partition coalescing —
    # the core of the 100 TB posture (plans stay declarative, Spark adapts).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dims (region/nation/supplier at any SF; part/customer at test SF) should
    # broadcast; 64 MB keeps star-join dims map-side at warehouse scale too.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for any pandas_udf / toPandas path (LLM ops), batched transfer.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Consistent date parser semantics (SURVEY §2 C1): CORRECTED policy.
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Python WORKERS.

    pandas_udf / mapInPandas functions are cloudpickled BY REFERENCE to
    this module, and workers don't share the driver's sys.path. Driver
    env mutation can't help either: the JVM snapshots its env at launch,
    which (for a foreign session, e.g. the verify driver's) predates our
    import. ``addPyFile`` with a zip of the package is the mechanism
    that works post-start — and is also exactly how you'd ship this
    code to a real cluster."""
    if getattr(spark, "_pkg_shipped", False):
        return
    spark._pkg_shipped = True
    try:
        sc = spark.sparkContext
    except PySparkAttributeError:
        return  # a Connect session has no SparkContext: its workers
        # rely on a shared filesystem PYTHONPATH instead

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    # the SparkContext copies the zip when it is added (and local
    # executors fetch it from here), so it only has to outlive this
    # process
    zdir = tempfile.mkdtemp(prefix="ark_spark_pkg_")
    atexit.register(shutil.rmtree, zdir, ignore_errors=True)
    zpath = os.path.join(zdir, f"{os.path.basename(zdir)}.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zpath)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an existing session (idempotent)."""
    _ship_package(spark)
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            # a conf this session may not modify keeps the session's
            # value; any other failure (a dead gateway, say) is real
            if not (e.getCondition() or "").startswith("CANNOT_MODIFY_"):
                raise
    return spark


def get_spark(
    app_name: str = "ark-invest-api-rust-data-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session for local runs/tests. On a real cluster, submit with your
    own master/conf; everything scale-critical is also in RUNTIME_CONF."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # the catalog creates its warehouse directory on first use;
        # without this conf that is ./spark-warehouse in the working
        # directory. One fixed directory, reused by every session.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "ark-spark-warehouse"),
            ),
        )
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark)

"""SparkSession bootstrap tuned for the engine.

Local-mode settings mirror what we would set fleet-wide on a real cluster:
AQE on (runtime re-planning, skew-join handling, partition coalescing),
shuffle partitions sized to cores (not the 200 default), Arrow enabled for
any pandas-UDF path. On a 1000-executor cluster the same config holds with
``spark.sql.shuffle.partitions`` scaled to ~2-3x total cores and
``spark.sql.files.maxPartitionBytes`` left at 128m so scan tasks stay
memory-bounded regardless of total input size.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def materialize(df: DataFrame, label: str) -> DataFrame:
    """Compute ``df`` now; the returned frame reads the stored rows.

    Catalyst re-executes a subtree for each consumer, so materialize a
    frame with more than one consumer, a loop state whose lineage must be
    cut each round, or a frame read from files about to be overwritten.
    A frame with a single consumer gains only an extra job.

    The package's one materialization: an eager local checkpoint whose
    job is described by ``label`` (the caller's description is restored;
    the job group is left alone). Its blocks are not released on exit:
    the returned frame reads them lazily, possibly across calls (a
    maintained MV), and ContextCleaner frees them once the frame is
    unreachable. Cluster caveat: the blocks are unreplicated executor
    storage without lineage fallback, so an executor loss fails the
    frame's next action and a session holding many frames accumulates
    storage; persist long-lived state to durable storage instead."""
    sc = df.sparkSession.sparkContext
    prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        return df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.job.description", prior)


def scratch_dir(prefix: str = "squopt_") -> str:
    """Scratch root for MV / index / format-roundtrip intermediates.

    Defaults to a driver-local tempdir (fine on local[*]). On a real
    cluster a driver-local path is NOT visible to executors — set
    ``$SPARK_GRAFT_SCRATCH`` to a shared filesystem or object-store URI
    (e.g. ``hdfs:///tmp/squopt``) and every write lands under it in a
    unique per-call subdirectory.
    """
    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if not root:
        return tempfile.mkdtemp(prefix=prefix)
    path = f"{root.rstrip('/')}/{prefix}{uuid.uuid4().hex[:12]}"
    if "://" not in root:  # local shared mount: create eagerly; remote
        os.makedirs(path, exist_ok=True)  # stores create on first write
    return path


#: process-stable scratch paths by logical key — see cached_scratch_dir
_SCRATCH_CACHE: dict[str, str] = {}


def cached_scratch_dir(prefix: str, key: str) -> str:
    """Stable scratch path for a logical key within this process.

    Index/MV builds are one-time setup costs (the reference's ``addIndex``
    runs once; its benchmarks measure post-index query time). Routing a
    build through a key-stable path lets repeated calls — bench
    steady-state loops, interactive re-runs — skip the rebuild and measure
    what a deployed index actually costs: the probe.
    """
    k = f"{prefix}|{key}"
    if k not in _SCRATCH_CACHE:
        _SCRATCH_CACHE[k] = scratch_dir(prefix)
    return _SCRATCH_CACHE[k]


@contextmanager
def conf_guard(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of a block, restoring the
    prior value (or unsetting, if it had none) on exit.

    Gates that need a non-default planner/parser conf must not leave it
    behind session-wide — the driver runs every gate through ONE shared
    session, so an unrestored conf silently poisons whichever gate runs
    next and happens to rely on the default. Confs consumed lazily (at
    plan/collect time, after the gate returned) must be bound inside the
    block by forcing the plan: ``df._jdf.queryExecution().optimizedPlan()``
    materializes V2 pushdown and friends under the guarded value; the
    later collect reuses that cached QueryExecution.
    """
    try:
        prior = spark.conf.get(key)
    except Exception:
        prior = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def get_spark(app_name: str = "linqonsteroids_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cpus`` controls local parallelism; defaults to ``$SPARK_GRAFT_CPUS``
    or all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle_parts = str(cpus if cpus else (os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        # ANSI mode (Spark 4 default) pinned explicitly: every operator —
        # including minhash's 64-bit hash arithmetic and cast_matrix's
        # string→number casts — must be exact under strict overflow/cast
        # errors. tests/test_ansi.py guards the pin.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts has shipped as parquet TIMESTAMP(NANOS), which Spark
        # reads only as a raw long (catalog.normalize_events_ts)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # static configs for the managed-table (bucketed MV) surface
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/spark_graft_derby",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
